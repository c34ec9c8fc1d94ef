"""Versioned table overwrites: Delta-style time travel on the parquet lane.

The reference's gold tables are Delta, whose transaction log gives readers
``VERSION AS OF`` / ``TIMESTAMP AS OF``, ``DESCRIBE HISTORY``, ``RESTORE``
and ``VACUUM`` (`/root/reference/Gold_Customers.py:65-68` writes the Delta
tables these operate on).  delta-spark is env-blocked here (COVERAGE.md r3
adjudication), so this module supplies the same lifecycle on the atomic
dir-swap protocol ``sources/writers.py`` already uses:

* the CURRENT version's data lives at ``<path>`` as plain parquet — every
  existing reader (``spark.read.parquet``, external tables, the catalog)
  keeps working unchanged;
* superseded versions are *renamed aside* (O(1), no copy) into
  ``<path>.__versions/v<k>/``, with an append-only JSON log recording each
  commit's version number and timestamp;
* ``read_version`` / ``read_as_of`` resolve a reader against the log;
  ``restore`` re-commits an old version as a NEW version (Delta RESTORE
  semantics — history is never rewritten); ``vacuum`` drops retained
  version directories beyond a retention count but keeps their log entries
  (history survives vacuum, data does not — same as Delta).

Concurrency contract (optimistic, Delta-style — VERDICT r8 ask #3): every
commit kind (overwrite, append/replace_files, replace_partitions, clone,
convert, RENAME/DROP COLUMN, FSCK) stages its files unlocked and then
runs ONE commit tail, :func:`_commit` — claim, version assignment under
the claim, snapshot check, intent journal, publish, log append, sidecar
refresh, release.  The tail is serialized by an ``O_EXCL`` claim on the
intent file — concurrent committers never interleave the renames; the
loser of the claim race gets :class:`ConcurrentWriteError` immediately.
Snapshot-dependent writers (DELETE/UPDATE/OPTIMIZE, RENAME/DROP COLUMN,
or any caller passing ``expected_version``) additionally re-validate
under the claim that the table still sits at the version their input
snapshot read — a commit that landed in between fails the transaction
cleanly (stage swept, claim released, table untouched), exactly Delta's
conflict-detection contract.  Readers are never blocked and never see a
half-written state because every mutation is a directory rename.

Log layout (VERDICT r8 ask #4): one JSON entry file per commit under
``<vroot>/_log/``, check-pointed every ``CHECKPOINT_INTERVAL`` commits
into a full-state ``*.checkpoint.json`` — snapshot resolution reads the
newest checkpoint plus a bounded tail (≤ interval entries), never
O(commits), the same reason Delta checkpoints its _delta_log.

At 100 TB the rename-aside retention is the cheap part — the cost model is
identical to Delta's (old files linger until VACUUM); what this lane does
NOT give is file-level MERGE history inside a version, which needs the
real transaction log and is exactly what the delta-available() fast path
provides on capable deployments.

Round 12 adds the second snapshot layout, ``snapshot_mode="manifest"``
(VERDICT r11 ask #2) — Delta's actual design: data files accumulate
under the table root with unique names and never move after their
commit; each log entry carries ``add``/``remove`` file ACTIONS; a
snapshot is the bounded replay of those actions anchored on a
files-checkpoint.  A partition replace then costs O(changed files)
instead of the physical mode's O(live files) hardlink walk — the rung
that matters at millions of files.  The trade is Delta's too: the root
is no longer plain-readable (read through :func:`read_current` /
:func:`read_version`), and VACUUM becomes live-set reference counting
instead of dropping retention dirs.  The mode is fixed at table
creation; every lifecycle operation (time travel, CDF, RESTORE, CLONE,
OPTIMIZE, DML, constraints, OCC + commute, recover) works identically
in both modes — ``tests/test_versioned_manifest.py`` mirrors the
behavioral suite on the manifest lane.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

LOG_DIR = "_log"               # per-commit entries + checkpoints
INTENT_FILE = ".intent.json"
CHECKPOINT_INTERVAL = 10


class ConcurrentWriteError(RuntimeError):
    """Another commit is in flight, or the table advanced past the
    writer's read snapshot (``expected_version``).  The transaction
    committed NOTHING; re-read the table and retry the transform —
    the same remedy as Delta's ConcurrentModificationException."""


def _vroot(path: str) -> str:
    return path.rstrip("/") + ".__versions"


def _intent_path(path: str) -> str:
    return os.path.join(_vroot(path), INTENT_FILE)


def _fsync_json(target: str, obj) -> None:
    """Crash-durable atomic JSON write: tmp-file + flush + fsync +
    rename, then fsync the directory so the rename itself survives power
    loss (ADVICE r8: json.dump + os.replace alone can leave an empty or
    truncated file after a crash)."""
    d = os.path.dirname(target)
    tmp = os.path.join(d, f".{os.path.basename(target)}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, target)
    dfd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _write_intent(path: str, intent: dict) -> None:
    """(Re)write the commit intent in place.  Only legal while HOLDING
    the claim (:func:`_claim_intent`) — or from crash-simulation tests,
    which stand in for a claimant that died."""
    os.makedirs(_vroot(path), exist_ok=True)
    _fsync_json(_intent_path(path), intent)


def _exclusive_claim(target: str, intent: dict, busy: str) -> None:
    """O_EXCL-create ``target`` holding ``intent`` (fsynced) — the claim
    primitive behind every single-writer slot (the table commit slot
    here, the deletion-vector writer slot in ``deletion_vectors``).  An
    existing file means the slot is taken: raise
    :class:`ConcurrentWriteError` with the ``busy`` message."""
    try:
        fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise ConcurrentWriteError(busy) from None
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(intent, fh)
            fh.flush()
            os.fsync(fh.fileno())
    except BaseException:  # pragma: no cover — claim must not leak
        os.remove(target)
        raise


def _claim_intent(path: str, intent: dict) -> None:
    """Atomically claim the table's single commit slot: O_EXCL-create the
    intent file.  Losing the race raises :class:`ConcurrentWriteError`
    (if the holder crashed, :func:`recover` clears the stale claim)."""
    os.makedirs(_vroot(path), exist_ok=True)
    _exclusive_claim(
        _intent_path(path), intent,
        f"{path}: another commit is in flight (live intent file); if "
        "that writer crashed, run recover() first",
    )


def _release_intent(path: str) -> None:
    p = _intent_path(path)
    if os.path.exists(p):
        os.remove(p)


def _read_intent(path: str) -> dict | None:
    p = _intent_path(path)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _log_dir(path: str) -> str:
    return os.path.join(_vroot(path), LOG_DIR)


def _log_files(path: str) -> tuple[list[str], list[str]]:
    """(sorted per-commit entry files, sorted checkpoint files) in the
    log dir; names sort by zero-padded version.  ``*.files.json``
    snapshot-file checkpoints (manifest mode) are neither."""
    ldir = _log_dir(path)
    if not os.path.isdir(ldir):
        return [], []
    entries, checkpoints = [], []
    for f in os.listdir(ldir):
        if f.endswith(".checkpoint.json"):
            checkpoints.append(f)
        elif f.endswith(".files.json"):
            continue
        elif f.endswith(".json") and not f.startswith("."):
            entries.append(f)
    return sorted(entries), sorted(checkpoints)


def _read_log(path: str) -> list[dict]:
    """Full commit history, resolved as newest checkpoint + bounded tail.
    Cost: one checkpoint read + ≤ CHECKPOINT_INTERVAL entry reads — never
    O(commits) (:func:`log_read_footprint` exposes the actual footprint
    for the bounded-tail-read assertion)."""
    entries, checkpoints = _log_files(path)
    base: list[dict] = []
    if checkpoints:
        with open(os.path.join(_log_dir(path), checkpoints[-1])) as fh:
            base = json.load(fh)
    base_v = base[-1]["version"] if base else -1
    tail = []
    for f in entries:
        v = int(f.split(".", 1)[0])
        if v > base_v:
            with open(os.path.join(_log_dir(path), f)) as fh:
                tail.append(json.load(fh))
    return base + tail


def log_read_footprint(path: str) -> dict:
    """What one snapshot resolution actually reads: the anchoring
    checkpoint and the per-commit tail file count — the bounded-tail
    contract a long-lived table relies on."""
    entries, checkpoints = _log_files(path)
    if checkpoints:
        base_v = int(checkpoints[-1].split(".", 1)[0])
        base = "checkpoint"
    else:
        base_v, base = -1, None
    tail = sum(1 for f in entries if int(f.split(".", 1)[0]) > base_v)
    return {"base": base, "base_version": (base_v if base_v >= 0 else None),
            "tail_files_read": tail, "total_commits": len(_read_log(path))}


#: Manifest entries whose add+remove action count reaches this spill to
#: an immediate files-checkpoint instead of riding inline in the entry
#: (and in every history checkpoint after it).  The SCALE.md r17 caveat
#: this closes: a CONVERT of an ~800k-file table wrote v0's add list as
#: one tens-of-MB JSON document that every log replay re-read until the
#: next boundary — Delta solves it with checkpoint.parquet; this is the
#: same move.  10k actions ≈ a few hundred KB of paths: below it the
#: inline entry is cheaper than an extra sidecar fsync.
ACTIONS_SPILL_THRESHOLD = 10_000


def _append_log(path: str, entry: dict) -> None:
    """Commit one log entry (its own fsynced file) and, on checkpoint
    boundaries, a full-state checkpoint so future resolutions stay
    bounded.  A crash between entry and checkpoint only costs a longer
    tail read until the next boundary — never correctness.  Manifest-
    mode tables additionally checkpoint the LIVE FILE LIST at the same
    boundaries, so snapshot-file resolution replays a bounded action
    tail instead of the whole history (Delta's checkpoint.parquet).

    Two scale valves keep every log artifact O(live files), never
    O(actions ever) (r18, VERDICT r17 ask #3):

    - an entry carrying ≥ ``ACTIONS_SPILL_THRESHOLD`` actions (CONVERT
      adopting a huge directory, a giant CLONE or overwrite) writes its
      post-commit live set as a files-checkpoint AT ITS OWN VERSION and
      logs only the action COUNTS — replay anchors at the checkpoint,
      so the fat list is read by nobody, ever;
    - the boundary history checkpoint keeps action COUNTS, not lists —
      :func:`_snapshot_files` replays from the per-commit files
      directly, so the checkpoint never carries actions the log dir
      already holds.
    """
    ldir = _log_dir(path)
    os.makedirs(ldir, exist_ok=True)
    v = entry["version"]
    n_actions = len(entry.get("add", ())) + len(entry.get("remove", ()))
    if (
        n_actions >= ACTIONS_SPILL_THRESHOLD
        and snapshot_mode(path) == "manifest"
    ):
        add = entry.get("add", [])
        remove = entry.get("remove", [])
        prev = set(_snapshot_files(path, v - 1)) if v > 0 else set()
        live = (prev - set(remove)) | set(add)
        _fsync_json(os.path.join(ldir, f"{v:020d}.files.json"), sorted(live))
        entry = {
            k: val for k, val in entry.items() if k not in ("add", "remove")
        }
        entry["add_count"] = len(add)
        entry["remove_count"] = len(remove)
        entry["actions_in"] = "files_checkpoint"
    _fsync_json(os.path.join(ldir, f"{v:020d}.json"), entry)
    if v > 0 and v % CHECKPOINT_INTERVAL == 0:
        if snapshot_mode(path) == "manifest":
            _fsync_json(
                os.path.join(ldir, f"{v:020d}.files.json"),
                _snapshot_files(path, v),
            )
        _fsync_json(
            os.path.join(ldir, f"{v:020d}.checkpoint.json"),
            [_compact_entry(e) for e in _read_log(path)],
        )
        _prune_old_history_checkpoints(path)


def _compact_entry(entry: dict) -> dict:
    """The history-checkpoint form of a log entry: action lists replaced
    by counts — the per-commit entry file holds them (it is never
    deleted, and :func:`_snapshot_files` replays from it), so the
    checkpoint carries history METADATA, not a second copy of every
    action ever committed."""
    if "add" not in entry and "remove" not in entry:
        return entry
    compact = {
        k: v for k, v in entry.items() if k not in ("add", "remove")
    }
    compact["add_count"] = len(entry.get("add", ()))
    compact["remove_count"] = len(entry.get("remove", ()))
    compact["actions_in"] = "commit_file"
    return compact


def _read_files_checkpoint(path: str, version: int) -> list[str] | None:
    """The files-checkpoint written at exactly ``version``, or None."""
    p = os.path.join(_log_dir(path), f"{version:020d}.files.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _prune_old_history_checkpoints(path: str) -> list[str]:
    """Delete history checkpoints older than the newest TWO —
    ``_read_log`` only ever opens ``checkpoints[-1]``, so everything
    below the previous generation is unreachable garbage; the one-extra
    generation absorbs the race where a concurrent reader listed the
    dir just before a new boundary checkpoint landed.  Each deleted
    file is O(commits); without pruning the log dir accumulates one per
    CHECKPOINT_INTERVAL commits forever.  Returns deleted names."""
    _entries, checkpoints = _log_files(path)
    doomed = checkpoints[:-2]
    for f in doomed:
        try:
            os.remove(os.path.join(_log_dir(path), f))
        except OSError:  # concurrent pruner won the race — same outcome
            pass
    return doomed


def _doomed_files_checkpoints(path: str, q_min: int) -> list[str]:
    """The files-checkpoints below the retention floor: everything
    strictly below the newest one at-or-below ``q_min`` — shared by the
    vacuum pruner and the dry run so they can never disagree."""
    ldir = _log_dir(path)
    if not os.path.isdir(ldir):
        return []
    marks = sorted(
        int(f.split(".", 1)[0])
        for f in os.listdir(ldir)
        if f.endswith(".files.json")
    )
    floor_anchor = max((v for v in marks if v <= q_min), default=None)
    if floor_anchor is None:
        return []
    return [f"{v:020d}.files.json" for v in marks if v < floor_anchor]


def _prune_files_checkpoints(path: str, q_min: int) -> list[str]:
    """Delete files-checkpoints below the RETENTION FLOOR (manifest
    mode; VACUUM's log-retention leg).  With ``q_min`` = the oldest
    still-resolvable version (oldest present non-current version, else
    current), every queryable resolution anchors at the newest
    files-checkpoint ≤ its version ≥ q_min — so any files-checkpoint
    strictly below the newest one at-or-below q_min can never be read
    again.  Each is O(live files); without this leg a long-lived table
    accumulates an O(live)-sized snapshot every CHECKPOINT_INTERVAL
    commits forever — the log-side twin of the data-side vacuum.  A
    version whose resolution needed a pruned anchor reads as vacuumed
    (loud ValueError from :func:`_snapshot_files`; False from
    :func:`_manifest_version_present`), which matches its data-side
    state: vacuum just deleted the files only it referenced.  Returns
    deleted names."""
    doomed = _doomed_files_checkpoints(path, q_min)
    for f in doomed:
        try:
            os.remove(os.path.join(_log_dir(path), f))
        except OSError:
            pass
    return doomed


# ---------------------------------------------------------------------------
# Snapshot modes (round 12 — VERDICT r11 ask #2): "physical" keeps the
# historical contract (the CURRENT version is plain parquet at the table
# path; superseded versions rename aside; partition commits assemble the
# new snapshot by hardlinking untouched files — O(live files) per
# commit).  "manifest" is Delta's actual design: data files accumulate
# under the table root with unique names and are NEVER moved after their
# commit; each log entry lists `add`/`remove` file ACTIONS; a snapshot
# is the replay of those actions — so a commit costs O(changed files)
# regardless of table size, the property the hardlink walk loses at
# 100 TB / millions of files.  The price is Delta's too: the table root
# is no longer plain-readable (stale files from old versions live beside
# current ones) — read through read_current / read_version, exactly as
# Delta readers must go through the log.
# ---------------------------------------------------------------------------

MODE_FILE = "_table_mode.json"


def snapshot_mode(path: str) -> str:
    """``"physical"`` (default) or ``"manifest"`` — fixed at table
    creation, persisted beside the log."""
    p = os.path.join(_vroot(path), MODE_FILE)
    if not os.path.exists(p):
        return "physical"
    with open(p) as fh:
        return json.load(fh)["snapshot_mode"]


def _set_snapshot_mode(path: str, mode: str) -> None:
    os.makedirs(_vroot(path), exist_ok=True)
    _fsync_json(os.path.join(_vroot(path), MODE_FILE), {"snapshot_mode": mode})


#: alias for call sites where a parameter named ``snapshot_mode`` shadows
#: the function (the public API keeps both names for clarity)
_mode_of = snapshot_mode


def _snapshot_files(path: str, version: int) -> list[str]:
    """Manifest mode: the snapshot's data files (table-relative paths),
    resolved as the newest files-checkpoint at or below ``version`` plus
    a replay of the add/remove actions after it — bounded by the
    checkpoint interval, never O(commits).

    The replay reads PER-COMMIT entry files directly (r18): the history
    checkpoint stores action counts, not lists, so it can never be the
    action source."""
    ldir = _log_dir(path)
    base_v = -1
    live: set = set()
    if os.path.isdir(ldir):
        for f in os.listdir(ldir):
            if f.endswith(".files.json"):
                v = int(f.split(".", 1)[0])
                if base_v < v <= version:
                    base_v = v
        if base_v >= 0:
            with open(os.path.join(ldir, f"{base_v:020d}.files.json")) as fh:
                live = set(json.load(fh))
    if base_v >= version:
        return sorted(live)
    for v in range(base_v + 1, version + 1):
        ef = os.path.join(ldir, f"{v:020d}.json")
        if not os.path.exists(ef):  # versions are dense; guard a pruned log
            continue
        with open(ef) as fh:
            e = json.load(fh)
        if e.get("actions_in") == "files_checkpoint":
            # a spilled entry inside the replay range means its anchor
            # files-checkpoint was pruned by log retention — the
            # requested version predates the retention floor (its data
            # is vacuumed-class gone); fail as loudly as _resolve_dir
            raise ValueError(
                f"{path}: version {version} resolution needs the "
                f"files-checkpoint at v{v}, pruned by log retention — "
                "the version predates the retention floor"
            )
        live -= set(e.get("remove", []))
        live |= set(e.get("add", []))
    return sorted(live)


def _live_data_files(path: str) -> list[str]:
    """Absolute data-file paths of the CURRENT version, mode-dispatched."""
    if snapshot_mode(path) == "manifest":
        v = current_version(path)
        if v is None:
            return []
        return [os.path.join(path, rel) for rel in _snapshot_files(path, v)]
    return _data_files(path)


def _entry_schema_df(spark: SparkSession, entry: dict):
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(entry["schema"]))
    return spark.createDataFrame([], schema)


def read_current(spark: SparkSession, path: str) -> DataFrame:
    """The CURRENT version, whatever the snapshot mode.  Physical tables
    keep their plain-parquet contract (``spark.read.parquet(path)`` is
    equivalent); manifest tables MUST be read through here or
    :func:`read_version` — the root dir holds stale files by design."""
    if snapshot_mode(path) == "manifest":
        v = current_version(path)
        if v is None:
            raise ValueError(f"{path}: no version log — not a versioned table")
        return read_version(spark, path, v)
    return spark.read.parquet(path)


def _plan_moves(stage: str, version: int) -> list[tuple[str, str]]:
    """(staged relpath, final relpath) for every data file under the
    stage dir.  Final names get a ``v{N}-`` basename prefix: Spark's
    part-file uuids already make collisions vanishingly unlikely, the
    prefix makes them impossible and stamps provenance for debugging."""
    moves = []
    for root, dirs, files in os.walk(stage):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        rel = os.path.relpath(root, stage)
        for f in files:
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            src = os.path.join(rel, f) if rel != "." else f
            dst_name = f"v{version}-{f}"
            dst = os.path.join(rel, dst_name) if rel != "." else dst_name
            moves.append((src, dst))
    return moves


def _apply_moves(path: str, stage: str, moves: list) -> None:
    """Publish staged files into the table root.  Idempotent: a re-run
    after a crash skips moves whose source is gone (already published)."""
    for src, dst in moves:
        s = os.path.join(stage, src)
        d = os.path.join(path, dst)
        if os.path.exists(s):
            os.makedirs(os.path.dirname(d), exist_ok=True)
            os.replace(s, d)
    shutil.rmtree(stage, ignore_errors=True)


CONSTRAINTS_FILE = "_constraints.json"
PROPERTIES_LOG = "_properties_log.json"


def _append_property_event(path: str, key: str, value) -> None:
    """Record a table-property change together with the table version it
    was declared AT, so a version-pinned CLONE can resolve the metadata
    as of the cloned version (Delta clones the cloned version's
    metadata, never the source's later state — ADVICE r17 #3: a CHECK
    constraint added after the pinned version must not ride along and
    reject the clone's own rows).  Append-only, fsynced, the same cost
    class as the property write itself."""
    p = os.path.join(_vroot(path), PROPERTIES_LOG)
    events = []
    if os.path.exists(p):
        with open(p) as fh:
            events = json.load(fh)
    events.append({"as_of_version": current_version(path) or 0, key: value})
    _fsync_json(p, events)


def _property_as_of(path: str, key: str, version: int):
    """``(found, value)``: the newest recorded ``key`` declared at or
    below table ``version``.  ``found=False`` when the table carries no
    history row for this key (property declared before the history
    sidecar existed) — callers fall back to the current-state file,
    which is the pre-r18 carry-over behavior, documented in
    :func:`clone_table`."""
    p = os.path.join(_vroot(path), PROPERTIES_LOG)
    if not os.path.exists(p):
        return False, None
    found, value = False, None
    with open(p) as fh:
        events = json.load(fh)
    if not any(key in ev for ev in events):
        return False, None
    for ev in events:
        if key in ev and ev.get("as_of_version", 0) <= version:
            found, value = True, ev[key]
    # the key HAS history but nothing at/below the pinned version: the
    # property did not exist at that version — authoritative empty
    return True, value if found else None


def set_constraints(path: str, rules: dict) -> None:
    """Persist table-level CHECK constraints (Delta ``ALTER TABLE ... ADD
    CONSTRAINT``): every subsequent commit through ANY path — overwrite,
    UPDATE, DELETE, OPTIMIZE, restore — validates against them.  Pass an
    empty dict to drop all constraints."""
    vroot = _vroot(path)
    os.makedirs(vroot, exist_ok=True)
    _fsync_json(os.path.join(vroot, CONSTRAINTS_FILE), rules)
    _append_property_event(path, "constraints", rules)


def get_constraints(path: str) -> dict:
    p = os.path.join(_vroot(path), CONSTRAINTS_FILE)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


CLUSTERING_FILE = "_clustering.json"


def set_clustering(
    spark: SparkSession, path: str, cols: list[str], curve: str = "sorted"
) -> None:
    """Declare the table's clustering columns (Delta/Databricks
    ``CLUSTER BY`` — liquid clustering's table-level contract, r16):
    the spec is validated against the CURRENT schema and the curve's
    type/arity rules (``functions/layout._validate_curve_spec``) and
    persisted beside the version log, making the table SELF-DESCRIBING
    — ``plans.maintenance.run_maintenance(table_paths=[...])`` picks the
    spec up automatically, no per-sweep ``cluster_specs`` bookkeeping.
    Pass an empty ``cols`` to drop the declaration."""
    vroot = _vroot(path)
    if current_version(path) is None:
        raise ValueError(f"{path}: no version log — not a versioned table")
    if cols:
        from ..functions.layout import _validate_curve_spec

        _validate_curve_spec(
            read_current(spark, path).schema, list(cols), curve
        )
        m = column_mapping(path)
        renamed = [
            c for c in cols if m is not None and m.get(c, c) != c
        ]
        if renamed:
            # layout health reads parquet footers, which carry PHYSICAL
            # names — a renamed clustering column would never match
            raise ValueError(
                f"{path}: CLUSTER BY refuses renamed column(s) "
                f"{renamed} — rewrite the table (full overwrite resets "
                "the mapping) before declaring clustering on them"
            )
        spec = {"cols": list(cols), "curve": curve}
    else:
        spec = {}
    os.makedirs(vroot, exist_ok=True)
    _fsync_json(os.path.join(vroot, CLUSTERING_FILE), spec)
    _append_property_event(path, "clustering", spec)


def clustering_of(path: str) -> dict | None:
    """The table's declared clustering ``{"cols": [...], "curve": ...}``
    or None — a driver-side file read, the ``table_detail`` cost class."""
    p = os.path.join(_vroot(path), CLUSTERING_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        spec = json.load(fh)
    return spec or None


def current_version(path: str) -> int | None:
    """Version number of the data at ``path`` (None: never written)."""
    log = _read_log(path)
    return log[-1]["version"] if log else None


def _live_rel_files(path: str, version: int, mode: str) -> list[str]:
    """Table-relative data files of snapshot ``version`` (the current
    one in physical mode, where only the current tree is at the path)."""
    if mode == "manifest":
        return _snapshot_files(path, version)
    return [os.path.relpath(f, path) for f in _data_files(path)]


def _expect(path: str, expected: int):
    """The strict snapshot check: the table must still sit at the
    version the writer's input snapshot read (Delta conflict
    detection)."""
    def check(log: list[dict]) -> None:
        cur = log[-1]["version"] if log else None
        if cur != expected:
            raise ConcurrentWriteError(
                f"{path}: read snapshot was v{expected} but the table is "
                f"now at v{cur} — a concurrent commit landed; re-read and "
                "retry the transaction"
            )
    return check


def _commit(
    path: str,
    operation: str,
    now: float | None,
    *,
    fill=None,
    moves: list | None = None,
    check=None,
    remove=None,
    metadata: dict | None = None,
    entry_keys=None,
    mode: str | None = None,
    sidecars=None,
) -> int:
    """THE commit tail — every commit kind runs exactly this, in order:

    1. ``fill(stage)`` writes the stage dir unlocked (None: a
       metadata-only commit, nothing staged); any failure before the
       claim removes the stage.
    2. Claim the table's single commit slot (:func:`_claim_intent`).
    3. Assign the version from ONE log read under the claim (a first
       commit pins the snapshot ``mode`` before its intent exists, so
       recover() and the log appender agree on the layout from v0).
    4. ``check(log)`` — the caller's snapshot check (:func:`_expect`,
       replace_partitions' commute rule, or None).
    5. Entry skeleton: version, committed_at, operation, metadata.
    6. ``remove(live)`` picks the retired files from the live set read
       under the claim (None: nothing retires).
    7. Journal the full intent — ``{stage, entry, moves}`` in manifest
       mode, ``{stage, entry}`` in physical — so :func:`recover` can roll
       any later crash FORWARD.  Manifest entries carry the add/remove
       actions plus ``entry_keys()`` (schema, column mapping).
    8. Publish.  Manifest: move only the staged files into the root
       (``moves`` defaults to :func:`_plan_moves`' v-prefixed names).
       Physical: the successor tree is the stage itself when nothing
       is kept; otherwise it is assembled under the claim by
       hard-linking the kept live files and moving the staged ones in —
       then the old tree renames aside and the new one is promoted.
    9. :func:`_append_log`.
    10. ``sidecars(version, mode, removed, added)`` refreshes the
        skipping sidecars inside a ``sidecars_pending`` window; if it
        raises, the sidecars are dropped (no manifest = no pruning =
        safe) before the error surfaces.
    11. Release the claim.  Returns the committed version."""
    stage = f"{path}.__stage_{uuid.uuid4().hex[:8]}"
    if fill is not None:
        try:
            fill(stage)
        except BaseException:
            # e.g. a rival commit moved the snapshot's files mid-read:
            # no orphan dir is left for recover() to sweep later
            shutil.rmtree(stage, ignore_errors=True)
            raise
    try:
        _claim_intent(path, {"stage": stage})
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    tree = stage
    try:
        log = _read_log(path)
        cur = log[-1]["version"] if log else None
        if check is not None:
            check(log)
        version = cur + 1 if log else 0
        if log:
            mode = _mode_of(path)
        else:
            # v0 with no explicit mode INHERITS any existing marker (a
            # crashed first commit may have pinned one before its intent)
            mode = mode or _mode_of(path)
            _set_snapshot_mode(path, mode)
        entry = {
            "version": version,
            "committed_at": float(now if now is not None else time.time()),
            "operation": operation,
        }
        if metadata:
            entry["metadata"] = metadata
        live = _live_rel_files(path, cur, mode) if log else []
        removed = remove(live) if remove is not None else []
        if moves is None:
            moves = _plan_moves(stage, version)
        if mode == "manifest":
            entry["add"] = sorted(dst for _, dst in moves)
            entry["remove"] = removed
            if entry_keys is not None:
                entry.update(entry_keys())
            _write_intent(path, {"stage": stage, "entry": entry,
                                 "moves": moves})
        else:
            gone = set(removed)
            kept = [r for r in live if r not in gone]
            if not kept:  # the stage IS the tree: files keep their names
                moves = [(src, src) for src, _ in moves]
            else:
                tree = f"{path}.__stage_{uuid.uuid4().hex[:8]}"
                _link_tree(path, tree, kept)
                for src, dst in moves:
                    d = os.path.join(tree, dst)
                    os.makedirs(os.path.dirname(d), exist_ok=True)
                    os.rename(os.path.join(stage, src), d)
                shutil.rmtree(stage, ignore_errors=True)
            _write_intent(path, {"stage": tree, "entry": entry})
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(tree, ignore_errors=True)
        _release_intent(path)
        raise
    # past this point the commit only rolls FORWARD (recover() finishes it)
    if mode == "manifest":
        # O(changed files): nothing else on disk is touched
        os.makedirs(path, exist_ok=True)
        _apply_moves(path, stage, moves)
    elif os.path.isdir(tree):
        if os.path.exists(path):
            os.rename(path, os.path.join(_vroot(path), f"v{version - 1}"))
        os.rename(tree, path)
    _append_log(path, entry)
    if sidecars is None:
        _release_intent(path)
        return version
    # sidecar window (ADVICE r15 #2): the commit is LOGGED, but until the
    # stats/bloom sidecars are refreshed they describe the retired file
    # set (manifest mode keeps those files on disk).  The claim is held
    # as a sidecars-pending marker; recover() drops the sidecars if we
    # die here.
    _write_intent(path, {"sidecars_pending": version})
    try:
        sidecars(version, mode, removed, [dst for _, dst in moves])
    except BaseException:
        _drop_sidecars(path)
        raise
    finally:
        _release_intent(path)
    return version


def _retry_commit(path: str, attempt, max_retries: int,
                  backoff_s: float = 0.05, what: str | None = None) -> int:
    """The optimistic retry loop: ``attempt(base_v)`` re-reads the
    snapshot at ``base_v`` and commits pinned to it; a
    :class:`ConcurrentWriteError` re-runs it after a linear backoff (it
    un-synchronizes racing writers), up to ``max_retries`` retries.

    With ``what`` (a re-deriving transaction), any other failure while
    the version MOVED is a race casualty and retries too: a rival commit
    renames the snapshot's files aside mid-read and Spark's pinned file
    listing then fails LOUDLY (FAILED_READ_FILE).  With the version
    unmoved it is a genuine error and propagates.  Exhaustion raises a
    ``ConcurrentWriteError`` naming ``what``; without ``what`` the last
    conflict re-raises as is."""
    last: Exception | None = None
    for i in range(max_retries + 1):
        if i and backoff_s:
            time.sleep(backoff_s * i)
        base_v = current_version(path)
        try:
            return attempt(base_v)
        except ConcurrentWriteError as e:
            last = e
        except Exception as e:
            if what is None or current_version(path) == base_v:
                raise
            last = e
    if what is None:
        raise last
    raise ConcurrentWriteError(
        f"{path}: {what} lost the commit race {max_retries + 1} times; "
        f"last conflict: {last}"
    ) from last


def _manifest_stats_columns(path: str) -> list[str]:
    """Columns the standing stats manifest covers (a local pyarrow read,
    no Spark job; empty when there is no readable manifest)."""
    from . import skipping

    _rows, have = skipping.read_stats_manifest_driver_side(path)
    return sorted(
        c[len("min__"):] for c in have or () if c.startswith("min__")
    )


def _standing_stats_columns(path: str) -> list[str] | None:
    """The stats columns a commit keeps fresh automatically: the standing
    manifest's, else the self-heal hint a crash-recovery drop left
    (:func:`_drop_sidecars`), else None."""
    cols = _manifest_stats_columns(path)
    if cols:
        return cols
    try:
        with open(_stats_hint_path(path)) as fh:
            return json.load(fh).get("stats_columns") or None
    except (OSError, ValueError):  # absent or torn hint
        return None


def _rebuild_stats(spark: SparkSession, path: str, cols, mode: str) -> None:
    """Full stats-manifest rebuild for the new live set; the self-heal
    hint is spent once the manifest stands again."""
    from . import skipping

    skipping.write_stats_manifest(
        spark, path, list(cols),
        files=_live_data_files(path) if mode == "manifest" else None,
    )
    if os.path.exists(_stats_hint_path(path)):
        os.unlink(_stats_hint_path(path))


def overwrite_versioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    now: float | None = None,
    operation: str = "WRITE",
    stats_columns: list[str] | None = None,
    schema_mode: str = "overwrite",
    constraints: dict | None = None,
    expected_version: int | None = None,
    metadata: dict | None = None,
    snapshot_mode: str | None = None,
) -> int:
    """Atomic overwrite that RETAINS the superseded version (rename-aside,
    no copy).  Returns the committed version number.  ``now`` pins the
    commit timestamp for reproducible tests (same contract as the SCD
    plans' ``now=``).

    Commit protocol (write-ahead intent, ADVICE r7; O_EXCL claim,
    VERDICT r8 ask #3): after the stage write completes, the writer
    atomically CLAIMS the table's single commit slot by O_EXCL-creating
    the intent file — a second in-flight committer fails the claim with
    :class:`ConcurrentWriteError` instead of interleaving renames.  Under
    the claim the version number is assigned from a fresh log read, the
    full intent (stage dir + target log entry) is fsync-replaced in
    place, and only then do the renames run — so :func:`recover` can roll
    a crash at ANY later point forward to completion (the stage is
    known-complete once the full intent exists).  The intent is removed
    as the last step; its absence means the previous commit fully
    finished.

    ``expected_version`` is the optimistic-concurrency hook for
    snapshot-dependent writes (Delta's conflict detection): pass the
    version your input snapshot read, and the commit fails with
    :class:`ConcurrentWriteError` — nothing staged, claimed, or renamed
    survives — if another commit landed in between.  DELETE / UPDATE /
    OPTIMIZE pass it automatically.  ``metadata`` lands verbatim in the
    commit's log entry (Delta ``operationParameters``) so downstream
    state — e.g. a materialized view's reflected base version — commits
    atomically WITH the data it describes.

    ``stats_columns`` opts into Delta-style commit-time stats collection:
    after the commit lands, a per-file min/max manifest for those columns
    is written under ``<path>/_file_stats`` (``sources/skipping.py``) so
    range scans through ``read_skipping`` prune files immediately.  A
    table ALREADY carrying stats or bloom sidecars keeps them fresh
    automatically (r16): the standing configs are captured before the
    commit and rebuilt for the new live set after the log lands, under
    the same ``sidecars_pending`` recovery marker ``replace_files``
    uses — in manifest mode the retired files stay on disk, so a stale
    sidecar would serve the RETIRED snapshot to pruned reads (this bit
    ``restore()``, which never re-passed ``stats_columns``).  A crash
    inside the rebuild window is repaired by ``recover()`` dropping the
    unknowable sidecars — readers fall back to unpruned, never wrong.

    ``schema_mode`` is the Delta schema-enforcement contract against the
    current version (first commits are unconstrained):

    - ``"overwrite"`` (default): replace the schema silently — Delta's
      ``overwriteSchema=true``, and this module's historical behavior.
    - ``"enforce"``: refuse ANY schema difference (names or types) —
      Delta's default write-time enforcement.
    - ``"merge"``: additive evolution — new columns append, columns the
      incoming frame dropped are retained and backfilled NULL, and a
      TYPE change on a shared column is refused (Delta ``mergeSchema``).

    ``snapshot_mode`` (round 12) fixes the table's snapshot layout at
    CREATION: ``"physical"`` (default — rename-aside retention, current
    version plain-readable at the path) or ``"manifest"`` (add/remove
    file actions in the log, O(changed files) commits, reads go through
    :func:`read_current`/:func:`read_version`).  Passing a mode that
    contradicts an existing table raises; later commits may omit it.
    """
    if schema_mode not in ("overwrite", "enforce", "merge"):
        raise ValueError(f"unknown schema_mode {schema_mode!r}")
    if snapshot_mode not in (None, "physical", "manifest"):
        raise ValueError(f"unknown snapshot_mode {snapshot_mode!r}")
    if (
        snapshot_mode is not None
        and _read_log(path)
        and snapshot_mode != _mode_of(path)
    ):
        raise ValueError(
            f"{path}: table was created with snapshot_mode="
            f"{_mode_of(path)!r}; it cannot change after creation"
        )
    if _read_log(path):
        df = _apply_generated(df, path)
    effective = {**get_constraints(path), **(constraints or {})}
    if effective:
        # Delta CHECK-constraint parity: every row must satisfy every
        # named predicate or NOTHING commits (one aggregate job over the
        # incoming frame, evaluated BEFORE any staging I/O).  Persisted
        # table constraints (:func:`set_constraints`) apply to EVERY
        # commit — including delete_where/update_where/optimize_compact,
        # which all land through this path.  Reuses the pipeline
        # expectation engine so rule semantics match Q1/Q2.
        from ..plans.expectations import expect_all_or_fail

        expect_all_or_fail(df, effective)
    if schema_mode != "overwrite" and _read_log(path):
        from pyspark.sql import functions as F

        spark = df.sparkSession
        cur = {f.name: f.dataType for f in read_current(spark, path).schema.fields}
        new = {f.name: f.dataType for f in df.schema.fields}
        mismatched = sorted(
            c for c in cur.keys() & new.keys() if cur[c] != new[c]
        )
        if mismatched:
            raise ValueError(
                f"{path}: schema_mode={schema_mode!r} refuses type changes "
                f"on {mismatched}"
            )
        if schema_mode == "enforce" and set(cur) != set(new):
            raise ValueError(
                f"{path}: schema_mode='enforce' refuses column changes "
                f"(added: {sorted(set(new) - set(cur))}, "
                f"removed: {sorted(set(cur) - set(new))})"
            )
        if schema_mode == "merge":
            for c in sorted(set(cur) - set(new)):
                df = df.withColumn(c, F.lit(None).cast(cur[c]))
    # standing skipping sidecars must FOLLOW the overwrite (r16 — the
    # replace_files hazard class on the overwrite/transact/RESTORE
    # path: in manifest mode retired files stay ON DISK and the old
    # sidecar keeps describing them, so pruned reads would serve the
    # retired snapshot).  Capture the standing configs BEFORE the
    # commit — physical mode renames the sidecars aside with the old
    # tree — and rebuild for the new live set inside the commit's
    # sidecar window.
    from . import skipping as _skipping

    auto_stats = stats_columns
    _new_cols = set(df.columns)
    if auto_stats is None:
        # schema overwrite may drop auto-maintained manifest columns:
        # keep the survivors (an EXPLICIT bogus column still fails loud)
        auto_stats = [
            c for c in _standing_stats_columns(path) or () if c in _new_cols
        ] or None
    _bloom_dir = os.path.join(path.rstrip("/"), _skipping.BLOOM_DIR)
    bloom_standing = os.path.isdir(_bloom_dir)
    bloom_head = None
    if bloom_standing:
        bloom_head = (
            df.sparkSession.read.parquet(_bloom_dir)
            .select("column", "num_bits", "num_hashes").first()
        )
        if bloom_head is not None and bloom_head.column not in _new_cols:
            bloom_head = None  # the probed column left the schema

    def rebuild(version, mode, removed, added):
        if auto_stats:
            _rebuild_stats(df.sparkSession, path, auto_stats, mode)
        if bloom_head is not None:
            _skipping.write_bloom_manifest(
                df.sparkSession, path, bloom_head.column,
                num_bits=bloom_head.num_bits,
                num_hashes=bloom_head.num_hashes,
                files=_live_data_files(path) if mode == "manifest" else None,
            )
        elif os.path.isdir(_bloom_dir):
            # zero-row sidecar or the probed column left the schema:
            # nothing to rebuild with — a standing stale sidecar would
            # serve the retired snapshot to equality probes
            shutil.rmtree(_bloom_dir, ignore_errors=True)

    def fill(stage):
        writer = df.write.mode("overwrite").format("parquet")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(stage)

    def entry_keys():
        keys = {"schema": df.schema.json()}
        if column_mapping(path) is not None:
            # a full overwrite stages every file FRESH from the logical
            # frame, so physical names equal logical again — record an
            # explicit CLEAR (null) to override the prior mapping (old
            # versions keep resolving their own).  A null is
            # distinguishable from a drop-only mapping, whose
            # identity-looking dict must KEEP gating the direct-file
            # readers: the standing files still carry the dropped
            # column's bytes (r18 review finding #1)
            keys[MAPPING_KEY] = None
        return keys

    return _commit(
        path, operation, now, fill=fill, metadata=metadata,
        check=(
            _expect(path, expected_version)
            if expected_version is not None else None
        ),
        remove=lambda live: live,
        entry_keys=entry_keys,
        mode=snapshot_mode,
        sidecars=rebuild if auto_stats or bloom_standing else None,
    )


def _data_files(path: str) -> list[str]:
    """Parquet data files of the CURRENT version (hidden paths excluded)."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return out


def optimize_compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    now: float | None = None,
    stats_columns: list[str] | None = None,
) -> int:
    """Delta ``OPTIMIZE`` (bin-packing compaction) on the versioned lane:
    rewrite the current version's small files into ~``target_file_bytes``
    files as a NEW commit.  Data is bit-identical (compaction is pure
    layout); history appends an ``OPTIMIZE`` entry, and time travel to the
    pre-compaction version keeps working — exactly Delta's contract.

    The rewrite uses ``coalesce`` (file-merge without a shuffle): at 100 TB
    the cost is one read+write of the compacted partitions, never a
    cluster-wide exchange.  ``stats_columns`` re-collects the skipping
    manifest for the new layout (the old layout's manifest travels with
    the renamed-aside version and stays consistent with IT).
    """
    if current_version(path) is None:
        raise ValueError(f"{path}: no version log — not a versioned table")
    _refuse_dv_sidecar(path, "optimize_compact")
    files = _live_data_files(path)
    if not files:
        raise ValueError(f"{path}: nothing to compact")
    total = sum(os.path.getsize(f) for f in files)
    n_target = max(1, -(-total // target_file_bytes))  # ceil division
    if n_target >= len(files):
        # Already at/under target — a no-op commit would only churn history.
        return current_version(path)
    # Hive-partitioned tables keep their layout: compaction bin-packs
    # WITHIN partitions (repartition by the partition keys bounds each
    # partition's files) — flattening the layout would silently destroy
    # every reader's partition pruning.
    from pyspark.sql import functions as F

    from .writers import _discover_partition_columns

    part_cols = _discover_partition_columns(path)
    base_v = current_version(path)
    df = read_current(spark, path)
    if part_cols:
        compacted = df.repartition(*[F.col(c) for c in part_cols])
        return overwrite_versioned(
            compacted, path, partition_by=part_cols, now=now,
            operation="OPTIMIZE", stats_columns=stats_columns,
            expected_version=base_v,
        )
    compacted = df.coalesce(int(n_target))
    return overwrite_versioned(
        compacted, path, now=now, operation="OPTIMIZE",
        stats_columns=stats_columns, expected_version=base_v,
    )


def _refuse_dv_sidecar(path: str, op: str) -> None:
    """Layout rewrites read the PHYSICAL files; on a table carrying a
    deletion-vector sidecar that would RESURRECT every marked-deleted
    row (and strand the positional marks against retired file paths).
    Delta's rule is the same: REORG/OPTIMIZE materialize DVs first —
    run ``deletion_vectors.purge_dv`` before the rewrite."""
    from .deletion_vectors import DV_DIR

    if os.path.isdir(os.path.join(path.rstrip("/"), DV_DIR)):
        raise ValueError(
            f"{path}: {op} refuses a table with a live deletion-vector "
            "sidecar — marked rows would be resurrected by the rewrite; "
            "purge_dv first (Delta REORG ... APPLY (PURGE))"
        )


def _stats_hint_path(path: str) -> str:
    return os.path.join(_vroot(path), "_stats_hint.json")


def _drop_sidecars(path: str) -> None:
    """Remove the stats and bloom skipping sidecars.  Always SAFE: no
    manifest means no pruning — readers fall back to full file lists.
    Used when a crash or rebuild failure leaves sidecar freshness
    unknowable (ADVICE r15 #2).

    Before dropping, the stats manifest's COLUMN SET is remembered in a
    hint file (driver-side pyarrow read, no Spark) so pruning
    SELF-HEALS: the next commit's auto-maintenance rebuilds the
    manifest from the hint even though the manifest itself is gone —
    without it, a crash would silently disable pruning until an
    operator re-passed ``stats_columns``.  Bloom sidecars stay
    operator-recreated (they are an explicit opt-in with their own
    bits/hash config)."""
    from . import skipping

    cols = _manifest_stats_columns(path)  # a torn manifest: no hint
    if cols:
        try:
            os.makedirs(_vroot(path), exist_ok=True)
            _fsync_json(_stats_hint_path(path), {"stats_columns": cols})
        except OSError:  # pragma: no cover — no hint: pruning stays off
            pass
    for d in (skipping.STATS_DIR, skipping.BLOOM_DIR):
        shutil.rmtree(os.path.join(path.rstrip("/"), d), ignore_errors=True)


def replace_files(
    df: DataFrame,
    path: str,
    remove: list[str],
    expected_version: int,
    partition_by: list[str] | None = None,
    now: float | None = None,
    operation: str = "REPLACE_FILES",
    metadata: dict | None = None,
    stats_columns: list[str] | None = None,
) -> int:
    """File-subset commit: retire the LIVE files named by ``remove``
    (table-relative paths, exactly as ``_snapshot_files`` lists them) and
    publish ``df``'s rows as their replacement — the primitive behind
    Delta-style incremental OPTIMIZE and append commits.  In manifest
    mode the commit is O(changed files): the log entry lists
    add = the staged files, remove = the retired ones, and untouched
    files are never read, linked, or renamed.  Physical mode builds the
    successor tree by hard-linking every kept file (O(live) links, no
    data copy) — the same cost its other commits pay.

    Concurrency is strict snapshot pinning: ``expected_version`` must be
    the version the caller derived ``remove``/``df`` from; ANY
    intervening commit raises :class:`ConcurrentWriteError` (re-read and
    re-derive — the remedy every transact loop already implements).  A
    ``remove`` entry that is not in the pinned snapshot's live set is a
    caller bug and raises ValueError before anything is claimed.

    ``stats_columns`` rebuilds the skipping manifest for the new live
    set; when omitted but a manifest already exists, it is rebuilt for
    the SAME columns automatically — a stale manifest would serve
    retired files to pruned readers.  (Footer harvesting makes this a
    metadata-cost step.)  Table CHECK constraints validate ``df`` like
    every other commit path.  Returns the committed version."""
    if current_version(path) is None:
        raise ValueError(f"{path}: no version log — not a versioned table")
    # classify the frame against the standing column mapping FIRST:
    # validation (generated columns, CHECK constraints) must run on the
    # LOGICAL view — a maintenance rewrite staged from direct file
    # reads arrives under PHYSICAL names, possibly carrying a dropped
    # column's bytes the rewrite must SHED (Delta: a rewrite
    # materializes only the current schema; r18 review findings #3/#4)
    _mapping = column_mapping(path)
    _physical_frame = False
    if _mapping is not None:
        _cols = set(df.columns)
        _phys = set(_mapping.values())
        if (
            _cols == set(_mapping) == _phys
            and not _mapping_is_identity(_mapping)
        ):
            # a pure permutation (swap-chain renames) makes logical and
            # physical frames indistinguishable by name — refuse loudly
            # rather than guess and mis-translate
            raise ValueError(
                f"{path}: the column mapping is a pure permutation of "
                "the physical names, so this frame's origin is "
                "ambiguous — rewrite the table (full overwrite resets "
                "the mapping) before file-subset commits"
            )
        if (
            operation != "APPEND"
            and _cols != set(_mapping)
            and _phys <= _cols
        ):
            extras = _cols - _phys
            if extras <= _retired_physical_names(path):
                # maintenance rewrite: extras are retired physical
                # columns (dropped/renamed-away) whose bytes the
                # rewrite sheds.  An UNKNOWN extra is a user frame with
                # a stray column — fall through so the schema check
                # raises instead of silently shedding it.  APPENDs
                # never shed: a user append carrying a retired name is
                # a caller bug and must fail the schema check, not
                # silently discard that column's data (review 2 #1).
                _physical_frame = True
                df = df.select(*_mapping.values())
    if operation == "APPEND":
        # appends carry NEW rows: compute/validate generated columns
        # (maintenance rewrites re-stage already-validated rows and
        # skip the extra pass)
        df = _apply_generated(df, path)
    effective = get_constraints(path)
    if effective:
        from ..plans.expectations import expect_all_or_fail

        expect_all_or_fail(
            _to_logical_df(df, _mapping) if _physical_frame else df,
            effective,
        )
    _refuse_dv_sidecar(path, "replace_files")
    spark = df.sparkSession
    # auto-maintain an existing manifest (read its column set NOW —
    # physical mode renames the sidecar aside with the superseded
    # version): serving retired files to pruned readers would be a
    # correctness bug, not a staleness one
    stats_cols = (
        stats_columns if stats_columns is not None
        else _standing_stats_columns(path)
    )
    # kept and new files must agree on schema — a drifted replacement
    # would poison every mixed-file read (Delta append-mode enforcement)
    cur_fields = {
        f.name: f.dataType for f in read_current(spark, path).schema.fields
    }
    new_fields = {f.name: f.dataType for f in df.schema.fields}
    if _physical_frame:
        # classified above: map the physical names back for the check
        _inv = {p: l for l, p in _mapping.items()}
        new_fields = {_inv[n]: t for n, t in new_fields.items()}
    if cur_fields != new_fields:
        raise ValueError(
            f"{path}: replace_files/append schema must match the current "
            f"snapshot (added: {sorted(set(new_fields) - set(cur_fields))}, "
            f"removed: {sorted(set(cur_fields) - set(new_fields))}, "
            f"retyped: {sorted(c for c in cur_fields.keys() & new_fields.keys() if cur_fields[c] != new_fields[c])})"
        )
    if not _physical_frame:
        # stage files under PHYSICAL names; the logical schema is what
        # the log entry records below
        df = _to_physical_df(df, _mapping)
    # partition LAYOUT must match too (ADVICE r15 #5): appending flat
    # files into a hive-partitioned tree (or hive dirs into a flat one)
    # stages a live set that mixes directory structures — mixed reads
    # then fail at QUERY time (conflicting layout / duplicate column)
    # instead of at commit time.  A partitioned table with no
    # partition_by defaults to its own layout.
    from .writers import _discover_partition_columns

    table_parts = _discover_partition_columns(path)
    if table_parts:
        if partition_by is None:
            partition_by = list(table_parts)
        elif list(partition_by) != table_parts:
            raise ValueError(
                f"{path}: table is hive-partitioned by {table_parts} but "
                f"the commit staged partition_by={list(partition_by)} — "
                "file-subset commits must keep the table's layout"
            )
    elif partition_by:
        raise ValueError(
            f"{path}: table is unpartitioned but the commit staged "
            f"partition_by={list(partition_by)} — hive dirs beside flat "
            "files would poison every mixed read"
        )
    from . import skipping

    def fill(stage):
        writer = df.write.mode("overwrite").format("parquet")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(stage)

    def pick(live):
        missing = sorted(set(remove) - set(live))
        if missing:
            raise ValueError(
                f"{path}: replace_files remove list names files not in "
                f"the v{expected_version} live set: {missing[:5]}"
            )
        return sorted(remove)

    def maintain(version, mode, removed, added):
        if stats_cols:
            _rebuild_stats(spark, path, stats_cols, mode)
        # bloom sidecar: incrementally maintained — manifest mode keeps
        # retired files ON DISK, so a stale bloom row would serve them to
        # equality probes (correctness, not staleness).  Physical mode
        # reads the superseded manifest from the renamed-aside version.
        bloom_src = (
            os.path.join(path.rstrip("/"), skipping.BLOOM_DIR)
            if mode == "manifest"
            else os.path.join(_vroot(path), f"v{version - 1}",
                              skipping.BLOOM_DIR)
        )
        if os.path.isdir(bloom_src):
            skipping.update_bloom_manifest_files(
                spark, path, removed=removed, added=added,
                old_manifest=spark.read.parquet(bloom_src),
            )

    bloom_standing = os.path.isdir(
        os.path.join(path.rstrip("/"), skipping.BLOOM_DIR)
    )
    return _commit(
        path, operation, now, fill=fill, metadata=metadata,
        check=_expect(path, expected_version), remove=pick,
        # the recorded schema is LOGICAL; under a non-identity mapping df
        # was translated to physical names above, and schema changes
        # through this path are refused anyway
        entry_keys=lambda: {"schema": (
            df.schema.json() if _mapping_is_identity(_mapping)
            else _current_logical_schema_json(path)
        )},
        sidecars=maintain if stats_cols or bloom_standing else None,
    )


def append_versioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    now: float | None = None,
    stats_columns: list[str] | None = None,
    metadata: dict | None = None,
    max_retries: int = 3,
) -> int:
    """Delta ``append`` mode: commit ``df``'s rows as NEW files beside
    the current snapshot — :func:`replace_files` with an empty remove
    list, retried through version races (appends commute with
    everything, so a rival commit only costs a re-pin, never a
    re-derive).  Manifest mode appends at O(new files); this is the
    write shape whose full-range files decay a clustered layout — the
    maintenance loop's recluster legs exist to repair exactly this."""
    def attempt(base_v):
        if base_v is None:
            raise ValueError(
                f"{path}: no version log — create the table with "
                "overwrite_versioned first"
            )
        return replace_files(
            df, path, remove=[], expected_version=base_v,
            partition_by=partition_by, now=now, operation="APPEND",
            metadata=metadata, stats_columns=stats_columns,
        )

    return _retry_commit(path, attempt, max_retries)


def compaction_plan(path: str, target_file_bytes: int) -> tuple[list, list]:
    """Driver-side, filesystem-only dry run of
    :func:`optimize_compact_incremental`'s eligibility math against the
    CURRENT snapshot: ``(plan, live)`` where ``plan`` is
    ``[(files, n_out), ...]`` — one branch per packable group (the
    whole table, or each eligible hive partition) — and an EMPTY plan
    means the compaction would be a no-op (fewer than two smalls, or
    packing cannot reduce the file count).  Shared by the actuator and
    the maintenance scheduler's probe (r17): the probe previously
    checked only the small-file COUNT, so a steady-state debt that can
    never pack (e.g. 3 smalls whose bytes already need 3 targets)
    re-dispatched a no-op OPTIMIZE every sweep, forever.  Cost: one
    stat per live file — the ``table_detail`` class."""
    from .writers import _discover_partition_columns

    base_v = current_version(path)
    if base_v is None:
        raise ValueError(f"{path}: no version log — not a versioned table")
    live = _live_rel_files(path, base_v, _mode_of(path))
    sizes = {rel: os.path.getsize(os.path.join(path, rel)) for rel in live}
    smalls = sorted(r for r, s in sizes.items() if s < target_file_bytes)
    if len(smalls) < 2:
        return [], live
    if _discover_partition_columns(path):
        by_part: dict[str, list[str]] = {}
        for rel in smalls:
            by_part.setdefault(os.path.dirname(rel), []).append(rel)
        plan: list[tuple[list[str], int]] = []
        for _pdir, files in sorted(by_part.items()):
            if len(files) < 2:
                continue
            debt = sum(sizes[r] for r in files)
            n_p = max(1, -(-debt // target_file_bytes))  # ceil
            if n_p < len(files):
                plan.append((files, int(n_p)))
        return plan, live
    total_small = sum(sizes[r] for r in smalls)
    n_out = max(1, -(-total_small // target_file_bytes))  # ceil
    if n_out >= len(smalls):
        return [], live  # packing cannot reduce the file count
    return [(smalls, int(n_out))], live


def optimize_compact_incremental(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    now: float | None = None,
    stats_columns: list[str] | None = None,
    max_retries: int = 3,
) -> int:
    """Delta ``OPTIMIZE``'s ACTUAL shape: bin-pack only the files BELOW
    ``target_file_bytes`` into ~target-sized outputs through one
    :func:`replace_files` commit — files already at/over target are
    never read, rewritten, or renamed, so compaction cost is
    proportional to the small-file debt, not the table size (the same
    scale story as the incremental recluster).

    Hive-partitioned tables bin-pack WITHIN partitions, and both the
    no-op guard and the byte target apply PER PARTITION (r16): a
    partition packs only when it has >=2 small files AND packing would
    reduce its file count, and a partition with 40 GB of debt emits
    ~ceil(40 GB / target) files, not one — each eligible partition's
    files are read as their own branch and ``repartition``-ed to its own
    bucket count, so output sizes track the target at any debt.  The
    union's branch count equals the number of partitions with packable
    debt — bounded per maintenance interval by the incremental write
    shape, not by the table's partition count.  A sweep in which NO
    partition (or, unpartitioned, the whole table) can reduce its file
    count is a no-op: no history churn, no rewrite I/O.  Returns the
    committed (or current) version.  :func:`optimize_compact` remains
    the full-snapshot rewrite.

    CLUSTERING-AWARE (r17, VERDICT r16 ask #6 — Databricks liquid
    clustering's ``OPTIMIZE`` on a ``CLUSTER BY`` table): when the
    table DECLARES clustering (:func:`set_clustering`), the packed
    rows are laid out through the declared curve instead of a blind
    round-robin — plain bin-packing would merge disjoint-range tiles
    into full-span files, re-widening exactly the envelopes the
    recluster leg just tightened, and the two maintenance legs would
    oscillate forever (compact → decay → recluster → small tiles →
    compact → ...).  Same output file count, same rewrite I/O bound
    (only the debt shuffles — through a range/curve partitioner rather
    than round-robin, plus one bounded quantile pass); undeclared
    tables keep the zero-extra-shuffle round-robin path."""
    from functools import reduce as _reduce

    from .writers import _discover_partition_columns

    def attempt(base_v):
        if base_v is None:
            raise ValueError(f"{path}: no version log — not a versioned table")
        _refuse_dv_sidecar(path, "optimize_compact_incremental")
        plan, live = compaction_plan(path, target_file_bytes)
        if not plan:
            return base_v  # nothing packable — no-op, no history churn
        part_cols = _discover_partition_columns(path) or None
        declared = clustering_of(path)

        def _lay_out(df: DataFrame, n: int) -> DataFrame:
            """Pack ``df`` into ``n`` files — through the declared
            clustering curve when the table has one (tile-shaped
            outputs), round-robin otherwise (no extra shuffle)."""
            if declared is None or not set(declared["cols"]) <= set(df.columns):
                return df.repartition(n)
            from ..functions import layout as _layout

            cols_, curve_ = list(declared["cols"]), declared.get(
                "curve", "sorted"
            )
            if curve_ == "hilbert":
                return _layout.hilbert_layout_ranked(
                    df, cols_[0], cols_[1], n, partition_cols=part_cols
                )
            if curve_ == "sorted":
                return _layout.sorted_layout(
                    df, cols_, n, partition_cols=part_cols
                )
            return _layout.zorder_layout_ranked(
                df, cols_, n, partition_cols=part_cols
            )

        remove = [r for files, _ in plan for r in files]
        # one branch per packable group, packed to ITS bucket count
        # (plan eligibility per partition: see compaction_plan).
        # Round-robin splits the debt evenly, so each output lands
        # ~target-sized; under hive partitioning, writing with
        # partitionBy keeps one file per task per hive dir (a branch's
        # rows all share one partition value), so per-partition output
        # counts are exact.  Shuffle volume = the debt being rewritten
        # anyway.  The lone unpartitioned undeclared branch keeps the
        # zero-shuffle coalesce.
        if part_cols is None and declared is None:
            (files, n_out), = plan
            packed = spark.read.option("basePath", path).parquet(
                *[os.path.join(path, r) for r in files]
            ).coalesce(int(n_out))
        else:
            branches = [
                _lay_out(
                    spark.read.option("basePath", path)
                    .parquet(*[os.path.join(path, r) for r in files]),
                    int(n_p),
                )
                for files, n_p in plan
            ]
            packed = _reduce(DataFrame.unionByName, branches)
        meta = {
            "incremental": True, "bin_packed": len(remove),
            "kept_files": len(live) - len(remove),
            "target_file_bytes": target_file_bytes,
        }
        if part_cols:
            meta["partitions_packed"] = len(plan)
        if declared is not None:
            meta["clustered"] = declared.get("curve", "sorted")
        return replace_files(
            packed, path, remove=remove, expected_version=base_v,
            partition_by=part_cols, now=now, operation="OPTIMIZE",
            metadata=meta,
            stats_columns=stats_columns,
        )

    return _retry_commit(path, attempt, max_retries)


def _resolve_dir(path: str, version: int) -> str:
    log = _read_log(path)
    if not log:
        raise ValueError(f"{path}: no version log — not a versioned table")
    known = {e["version"] for e in log}
    if version not in known:
        raise ValueError(f"{path}: unknown version {version} (log has {sorted(known)})")
    if version == log[-1]["version"]:
        return path
    vdir = os.path.join(_vroot(path), f"v{version}")
    if not os.path.exists(vdir):
        raise ValueError(
            f"{path}: version {version} was vacuumed — its history entry "
            "remains but the data is gone"
        )
    return vdir


MAPPING_KEY = "column_mapping"


def column_mapping(path: str, version: int | None = None) -> dict | None:
    """The table's logical→physical column map AS OF ``version``
    (default: current), or None if no commit at or below it ever
    recorded one (identity — the pre-mapping world).  Delta column
    mapping's name-mode contract (r18): RENAME/DROP COLUMN are
    metadata-only commits; data files keep their PHYSICAL column names
    forever, and readers project physical→logical per version — so a
    rename on a 100 TB table is one fsynced log entry, not a rewrite.
    The map rides log entries exactly like ``schema`` does, which is
    what makes time travel show each version under ITS OWN names."""
    log = _read_log(path)
    if not log:
        return None
    v = log[-1]["version"] if version is None else version
    m, op = None, ""
    for e in log:
        if e["version"] <= v and MAPPING_KEY in e:
            m, op = e[MAPPING_KEY], e.get("operation", "")
    if (
        m is not None
        and all(l == p for l, p in m.items())
        and not op.startswith(("RENAME COLUMN", "DROP COLUMN", "CLONE"))
    ):
        # an identity-CONTENT dict recorded by a full-rewrite commit is
        # the pre-r18 form of the explicit clear (the old overwrite
        # recorded {c: c}); its files were staged fresh, so it must not
        # gate anything.  ALTER- and clone-recorded identity dicts keep
        # gating: a drop-only mapping looks like identity while the
        # files still carry the dropped bytes.
        return None
    return m


def _mapping_is_identity(mapping: dict | None) -> bool:
    return mapping is None or all(l == p for l, p in mapping.items())


def _refuse_mapped(path: str, op: str) -> None:
    """Loud v1 restriction: ops that read/describe data files DIRECTLY
    (file-level pruning sidecars, DV merge-on-read, partition-scoped
    replace) see PHYSICAL column names and would silently disagree with
    the logical schema on a renamed table.  Same spirit as Delta's own
    column-mapping feature gates.

    ANY standing mapping dict refuses — including a drop-only mapping
    whose content LOOKS like identity: the files still carry the
    dropped column's bytes, and a direct-file reader would resurrect
    them (r18 review finding #1).  Only a full overwrite (which stages
    fresh files and records an explicit mapping CLEAR) reopens the
    gates."""
    if column_mapping(path) is not None:
        raise ValueError(
            f"{path}: {op} is not supported on a column-mapped table "
            "(logical names differ from the physical names in the data "
            "files); read through read_current/read_version, or rewrite "
            "the table (a full overwrite resets the mapping to identity)"
        )


def _retired_physical_names(path: str) -> set:
    """Physical column names that ever existed in this table's files
    but are NOT part of the current mapping's live set — the columns a
    maintenance rewrite may legitimately carry (and shed).  One bounded
    log scan: entries without an active mapping have logical==physical
    field names; entries under a mapping contribute its values."""
    phys: set = set()
    active = None
    for e in _read_log(path):
        if MAPPING_KEY in e:
            active = e[MAPPING_KEY]
        if active:
            phys |= set(active.values())
        elif "schema" in e:
            phys |= {
                f["name"] for f in json.loads(e["schema"]).get("fields", ())
            }
    cur = column_mapping(path)
    return phys - set(cur.values() if cur else ())


def _to_physical_df(df: DataFrame, mapping: dict | None) -> DataFrame:
    """Stage-side translation: rename LOGICAL columns to their physical
    names before files are written.  Callers classify the frame first —
    this must only see LOGICAL frames (replace_files detects
    already-physical maintenance frames by their name set and skips)."""
    if _mapping_is_identity(mapping):
        return df
    if not any(mapping.get(c, c) != c for c in df.columns):
        return df
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def _to_logical_df(df: DataFrame, mapping: dict | None) -> DataFrame:
    """Read-side projection: physical file columns → the version's
    logical schema (order included); physical columns of DROPPED
    logical columns vanish here — their bytes stay in the files, the
    projection is what un-publishes them."""
    if _mapping_is_identity(mapping) and (
        mapping is None or list(mapping) == list(df.columns)
    ):
        return df
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(p).alias(l) for l, p in mapping.items() if p in df.columns]
    )


def read_version(spark: SparkSession, path: str, version: int) -> DataFrame:
    """``VERSION AS OF``: the table exactly as committed at ``version``.

    Manifest mode resolves the version's file LIST from the action log
    (files-checkpoint + bounded tail) and opens exactly those files with
    a ``basePath`` so hive partition columns survive; a missing file
    means the version was vacuumed (history remains, data is gone —
    same contract as the physical lane's missing retention dir).  The
    existence sweep is one stat per file — the price of an exact
    vacuumed-version error instead of a mid-scan FileNotFound.

    Column-mapped tables project physical file columns to the LOGICAL
    schema as of ``version`` (:func:`column_mapping`), so a version
    before a RENAME shows the old name and one after shows the new —
    on the same unmoved data files."""
    if _mode_of(path) == "manifest":
        log = _read_log(path)
        if not log:
            raise ValueError(f"{path}: no version log — not a versioned table")
        by_v = {e["version"]: e for e in log}
        if version not in by_v:
            raise ValueError(
                f"{path}: unknown version {version} (log has {sorted(by_v)})"
            )
        files = _snapshot_files(path, version)
        if not files:
            return _entry_schema_df(spark, by_v[version])
        missing = [
            f for f in files if not os.path.exists(os.path.join(path, f))
        ]
        if missing:
            raise ValueError(
                f"{path}: version {version} was vacuumed — its history "
                "entry remains but the data is gone"
            )
        reader = spark.read.option("basePath", path)
        mapping = column_mapping(path, version)
        # Skip the reader's footer-based schema inference when the log
        # already knows the snapshot's schema (r19, guide §1/§6: ~85 of
        # ~110 ms per manifest read at sf0.1 was the JVM footer pass,
        # paid on EVERY read_current/read_version across the
        # multi-commit lanes).  Resolution rule = the clone path's: the
        # newest entry at or below ``version`` that recorded a schema —
        # exactly the frame that wrote the files, so data-column types
        # match the footers bit-for-bit (and heterogeneous snapshots
        # from additive appends read absent columns as NULL, which
        # inference only got right when the first-listed file happened
        # to carry the union).  Fallbacks stay on inference: hive-
        # partitioned snapshots ("=" in a path — the explicit schema
        # would have to re-derive partition column order) and
        # column-mapped tables (files carry PHYSICAL names; the
        # recorded schema is logical).
        if mapping is None and not any("=" in f for f in files):
            sch = None
            for e in reversed(log):
                if e["version"] <= version and "schema" in e:
                    sch = e["schema"]
                    break
            if sch is not None:
                from pyspark.sql.types import StructType

                reader = reader.schema(StructType.fromJson(json.loads(sch)))
        out = reader.parquet(*[os.path.join(path, f) for f in files])
        return _to_logical_df(out, mapping)
    return spark.read.parquet(_resolve_dir(path, version))


def read_as_of(spark: SparkSession, path: str, ts: float) -> DataFrame:
    """``TIMESTAMP AS OF``: the newest version committed at or before
    ``ts`` (epoch seconds)."""
    log = _read_log(path)
    eligible = [e for e in log if e["committed_at"] <= ts]
    if not eligible:
        raise ValueError(f"{path}: no version committed at or before {ts}")
    return read_version(spark, path, eligible[-1]["version"])


def history(path: str) -> list[dict]:
    """``DESCRIBE HISTORY``: newest first, every commit ever made —
    including vacuumed versions (data gone, history kept) and restores."""
    return list(reversed(_read_log(path)))


def last_txn_version(path: str, app_id: str) -> int | None:
    """Idempotent-writer ledger read (Delta ``txn`` action /
    ``txnAppId``+``txnVersion`` parity): the highest writer-supplied
    transaction version this ``app_id`` has ever committed to the table,
    or None.  Writers that fold NON-idempotent updates (counters,
    running aggregates) record ``metadata={"txn": {"app_id": ...,
    "version": N}}`` on each commit and skip any incoming N ≤ this —
    the mechanism that makes foreachBatch's at-least-once replay
    exactly-once for folds where re-applying is NOT a value no-op
    (contrast ``streaming/matview_stream.py``, whose merge+CDF fold is
    idempotent by construction and needs no ledger).

    O(commits) over the checkpointed log tail — same cost class as any
    snapshot resolution; the scan takes the MAX rather than the newest
    entry so an interleaved rival writer's commits cannot shadow this
    app's latest version."""
    best = None
    for e in history(path):
        t = (e.get("metadata") or {}).get("txn")
        if t and t.get("app_id") == app_id:
            v = int(t["version"])
            best = v if best is None or v > best else best
    return best


def delete_where(
    spark: SparkSession,
    path: str,
    condition,
    now: float | None = None,
    stats_columns: list[str] | None = None,
) -> int:
    """Delta ``DELETE FROM ... WHERE``: commits a NEW version without the
    matching rows (copy-on-write, the same mechanism Delta uses absent
    deletion vectors).  ``condition`` is a Column or SQL string.  The CDF
    (:func:`table_changes`) then reports exactly the removed rows as
    ``delete`` events — no separate tombstone plumbing needed.

    Scale: copy-on-write rewrites the whole table here because the
    versioned lane snapshots at table granularity; with ``partition_by``
    layouts the predicate should align with partitions so the rewrite
    prunes (Catalyst pushes the NOT-filter to the scan either way).
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    cond = F.expr(condition) if isinstance(condition, str) else condition
    if not isinstance(cond, Column):
        raise TypeError("condition must be a Column or SQL string")
    base_v = current_version(path)
    kept = read_current(spark, path).where(~cond | cond.isNull())
    return overwrite_versioned(
        kept, path, now=now, operation="DELETE", stats_columns=stats_columns,
        expected_version=base_v,
    )


def update_where(
    spark: SparkSession,
    path: str,
    condition,
    assignments: dict,
    now: float | None = None,
    stats_columns: list[str] | None = None,
) -> int:
    """Delta ``UPDATE ... SET ... WHERE``: commits a NEW version where the
    matching rows take the assigned expressions and every other row is
    byte-identical (NULL-conditioned rows are untouched, the SQL
    three-valued rule).  ``assignments`` maps column name -> Column or
    SQL string; assigned expressions see the PRE-update row (standard
    UPDATE semantics — simultaneous assignment, not sequential)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    cond = F.expr(condition) if isinstance(condition, str) else condition
    base_v = current_version(path)
    df = read_current(spark, path)
    missing = set(assignments) - set(df.columns)
    if missing:
        raise ValueError(f"UPDATE of unknown column(s): {sorted(missing)}")
    exprs = {
        c: (F.expr(v) if isinstance(v, str) else v) for c, v in assignments.items()
    }
    for c, v in exprs.items():
        if not isinstance(v, Column):
            raise TypeError(f"assignment for {c!r} must be a Column or SQL string")
    # withColumns applies all assignments against the pre-update row at once.
    updated = df.withColumns(
        {c: F.when(cond, v).otherwise(F.col(c)) for c, v in exprs.items()}
    )
    return overwrite_versioned(
        updated, path, now=now, operation="UPDATE", stats_columns=stats_columns,
        expected_version=base_v,
    )


def optimize_zorder(
    spark: SparkSession,
    path: str,
    col_a: str,
    col_b: str,
    *more_cols: str,
    n_files: int = 16,
    now: float | None = None,
    stats_columns: list[str] | None = None,
) -> int:
    """Delta ``OPTIMIZE ... ZORDER BY (a, b)``: re-cluster the current
    version along the (a, b) Morton curve as a NEW ``OPTIMIZE ZORDER``
    commit — each output file covers a compact region of the (a, b)
    plane, so min/max skipping prunes BOX predicates on both columns at
    once (``sources/skipping.py::read_skipping_multi`` is the read
    side).  Data is bit-identical; history appends; pre-optimize time
    travel keeps working.  ``stats_columns`` defaults to the two
    clustering columns — a Z-order without a stats manifest prunes
    nothing, so the stats ARE the point.

    Unlike plain compaction this is a full shuffle (range partitioning
    by the Morton key) — the cost Delta's OPTIMIZE ZORDER pays too;
    schedule it like Delta does, on cold data, amortized over every
    subsequent box scan.

    r14: dimensions are rank-scaled (``layout.zorder_layout_ranked``) —
    raw bit-interleaving degenerates to a random shuffle on unbounded
    domains (epoch timestamps, surrogate ids), measured in SCALE.md
    round 14.  Single-attempt API (a rival commit raises
    ``ConcurrentWriteError``); the scheduler actuator
    ``layout.recluster_zorder`` wraps the same layout in a retry
    transaction."""
    from ..functions.layout import zorder_layout_ranked
    from .writers import _discover_partition_columns

    base_v = current_version(path)
    if base_v is None:
        raise ValueError(f"{path}: no version log — not a versioned table")
    _refuse_dv_sidecar(path, "optimize_zorder")
    # hive-partitioned tables keep their layout: z-order WITHIN
    # partitions and recommit partition_by (same contract as
    # optimize_compact above — flattening destroys partition pruning)
    part_cols = _discover_partition_columns(path) or None
    cols = [col_a, col_b, *more_cols]
    clustered = zorder_layout_ranked(
        read_current(spark, path), cols, n_files=n_files,
        partition_cols=part_cols,
    )
    v = overwrite_versioned(
        clustered, path, now=now,
        operation=f"OPTIMIZE ZORDER({','.join(cols)})",
        partition_by=part_cols,
        stats_columns=(stats_columns if stats_columns is not None else cols),
        expected_version=base_v,
    )
    return v


def _current_logical_schema_json(path: str) -> str:
    """The newest recorded logical schema at the current version."""
    log = _read_log(path)
    for e in reversed(log):
        if "schema" in e:
            return e["schema"]
    raise ValueError(
        f"{path}: no recorded schema in the log — commit through "
        "overwrite_versioned first"
    )


def _alter_column(path: str, col: str, op: str, now: float | None,
                  edit) -> int:
    """The shared RENAME/DROP COLUMN commit: a METADATA-ONLY log entry
    (empty action lists, no file I/O) through the commit tail.  The
    logical schema and mapping are read here, outside the claim, so the
    commit is pinned to the version they were read at — a rival commit
    landing in between (say, an overwrite adding a column) fails the
    ALTER with :class:`ConcurrentWriteError` instead of being silently
    undone by a stale schema.  ``edit(schema, names, mapping)`` applies
    the change in place to ``schema`` and returns ``(new_mapping,
    metadata, operation)``."""
    _refuse_alter_dependents(path, col, op)
    base_v = current_version(path)
    schema = json.loads(_current_logical_schema_json(path))
    names = [f["name"] for f in schema.get("fields", ())]
    if col not in names:
        raise ValueError(f"{path}: no column {col!r} (have {names})")
    mapping = column_mapping(path) or {n: n for n in names}
    new_mapping, metadata, operation = edit(schema, names, mapping)

    def drop_sidecars(*_):
        # manifests key physical names, and the hint's columns are
        # logical: both go, self-heal off
        _drop_sidecars(path)
        if os.path.exists(_stats_hint_path(path)):
            os.unlink(_stats_hint_path(path))

    return _commit(
        path, operation, now, metadata=metadata,
        check=_expect(path, base_v),
        entry_keys=lambda: {"schema": json.dumps(schema),
                            MAPPING_KEY: new_mapping},
        sidecars=drop_sidecars,
    )


def _refuse_alter_dependents(path: str, col: str, op: str) -> None:
    """RENAME/DROP refusals shared by both ALTERs: hive partition
    columns (their names live in directory paths), columns a declared
    clustering spec or CHECK constraint references (their expressions
    hold the old name as text), and tables carrying a live DV sidecar
    (its marks address physical files directly)."""
    import re as _re

    from .deletion_vectors import DV_DIR
    from .writers import _discover_partition_columns

    if _mode_of(path) != "manifest":
        raise ValueError(
            f"{path}: {op} needs a manifest-mode table — physical-mode "
            "snapshots are plain-readable at the path, where no mapping "
            "projection can apply"
        )
    if col in (_discover_partition_columns(path) or ()):
        raise ValueError(
            f"{path}: {op} refuses partition column {col!r} — its name "
            "is baked into the hive directory layout"
        )
    if os.path.isdir(os.path.join(path.rstrip("/"), DV_DIR)):
        raise ValueError(
            f"{path}: {op} refuses a table with a live deletion-vector "
            "sidecar — DV marks address physical files; purge_dv first"
        )
    dec = clustering_of(path)
    if dec and col in dec.get("cols", ()):
        raise ValueError(
            f"{path}: {op} refuses clustering column {col!r} — drop the "
            "CLUSTER BY declaration first"
        )
    pat = _re.compile(rf"\b{_re.escape(col)}\b")
    hits = [n for n, expr in get_constraints(path).items() if pat.search(expr)]
    if hits:
        raise ValueError(
            f"{path}: {op} refuses {col!r} — CHECK constraint(s) "
            f"{hits} reference it; drop or rewrite them first"
        )
    ident = identity_of(path)
    if ident and ident.get("column") == col:
        raise ValueError(
            f"{path}: {op} refuses identity column {col!r} — the "
            "high-water allocator resolves it from parquet footers by "
            "name; drop the identity declaration first"
        )
    gen = generated_of(path)
    gen_hits = sorted(
        g for g, expr in gen.items() if g == col or pat.search(expr)
    )
    if gen_hits:
        # a renamed referenced column would make every later write's
        # compute/validate expression unresolvable; a renamed/dropped
        # TARGET would re-add the stale name and fail the schema check
        # (r18 review finding #2 — the table would be unwritable)
        raise ValueError(
            f"{path}: {op} refuses {col!r} — generated column(s) "
            f"{gen_hits} declare or reference it; drop those "
            "declarations first (set_generated(..., expr=None))"
        )


def rename_column_versioned(
    path: str, old: str, new: str, now: float | None = None
) -> int:
    """Delta ``ALTER TABLE ... RENAME COLUMN`` under column mapping
    (name mode): a METADATA-ONLY commit — zero data files read, moved,
    or rewritten, which at 100 TB is the difference between one fsynced
    log entry and a full-table rewrite.  The column keeps its PHYSICAL
    name in every existing file; the log records the new logical schema
    and the logical→physical map, and every read through
    read_current/read_version projects accordingly.  Time travel shows
    each version under its own names.  A later full overwrite resets
    the mapping to identity (its files are staged fresh).

    v1 restrictions (loud, the Delta-style feature gates): manifest
    mode only; not partition / clustering / constraint-referenced
    columns; no DV sidecar; stats & bloom sidecars are DROPPED with the
    commit (file-level pruning reads physical names — absent = unpruned
    = safe) and pruned-read entry points refuse mapped tables."""
    def edit(schema, names, mapping):
        if new in names:
            raise ValueError(f"{path}: column {new!r} already exists")
        for f in schema["fields"]:
            if f["name"] == old:
                f["name"] = new
        return (
            {(new if l == old else l): p for l, p in mapping.items()},
            {"renamed": {old: new}},
            f"RENAME COLUMN ({old} -> {new})",
        )

    return _alter_column(path, old, "RENAME COLUMN", now, edit)


def drop_column_versioned(
    path: str, col: str, now: float | None = None
) -> int:
    """Delta ``ALTER TABLE ... DROP COLUMN`` under column mapping: a
    METADATA-ONLY commit — the column's bytes stay in the files, the
    read projection is what un-publishes them; a later full overwrite
    physically sheds them.  Same v1 restrictions as
    :func:`rename_column_versioned`; a NEW column added later under the
    same name gets a FRESH physical name, so the dropped bytes can
    never resurrect."""
    def edit(schema, names, mapping):
        if len(names) == 1:
            raise ValueError(f"{path}: cannot drop the last column {col!r}")
        schema["fields"] = [f for f in schema["fields"] if f["name"] != col]
        return (
            {l: p for l, p in mapping.items() if l != col},
            {"dropped": [col]},
            f"DROP COLUMN ({col})",
        )

    return _alter_column(path, col, "DROP COLUMN", now, edit)


GENERATED_FILE = "_generated.json"


def set_generated(path: str, column: str, expr: str | None = None) -> None:
    """Declare a Delta-style GENERATED ALWAYS AS column: every commit
    computes ``column`` from ``expr`` when the incoming frame omits it,
    and VALIDATES user-provided values against the expression otherwise
    (a mismatch fails the whole commit — Delta's generated-column
    write contract).  Pass ``expr=None`` to drop the declaration."""
    if current_version(path) is None:
        raise ValueError(f"{path}: no version log — not a versioned table")
    p = os.path.join(_vroot(path), GENERATED_FILE)
    decls = generated_of(path)
    if expr is None:
        decls.pop(column, None)  # removal is the escape hatch: never gated
    else:
        _refuse_mapped(path, "generated-column declaration")
        decls[column] = expr
    os.makedirs(_vroot(path), exist_ok=True)
    _fsync_json(p, decls)
    _append_property_event(path, "generated", decls)


def generated_of(path: str) -> dict:
    p = os.path.join(_vroot(path), GENERATED_FILE)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def _apply_generated(df: DataFrame, path: str) -> DataFrame:
    """Compute absent generated columns; validate provided ones.  The
    validation is one aggregate over the INCOMING frame only (the data
    being written is being read anyway); maintenance rewrites of
    already-validated rows skip it at their call site."""
    decls = generated_of(path)
    if not decls:
        return df
    from pyspark.sql import functions as F

    bad_checks = []
    for col, expr in decls.items():
        if col not in df.columns:
            df = df.withColumn(col, F.expr(expr))
        else:
            bad_checks.append(
                F.sum(
                    (~F.col(col).eqNullSafe(F.expr(expr))).cast("long")
                ).alias(col)
            )
    if bad_checks:
        row = df.agg(*bad_checks).first()
        bad = {c: row[c] for c in row.asDict() if row[c]}
        if bad:
            raise ValueError(
                f"{path}: GENERATED ALWAYS AS violation — user-provided "
                f"values disagree with the expression (bad rows per "
                f"column: {bad})"
            )
    return df


IDENTITY_FILE = "_identity.json"


def set_identity(
    path: str, column: str, start: int = 1, step: int = 1
) -> None:
    """Declare a Delta-style IDENTITY column (``GENERATED BY DEFAULT AS
    IDENTITY (START WITH start INCREMENT BY step)``): values assigned
    by :func:`append_with_identity` are unique and strictly advancing
    across commits, with GAPS allowed — exactly Delta's identity
    contract, which is what makes assignment shuffle-free.  Pass an
    empty ``column`` to drop the declaration."""
    if step == 0:
        raise ValueError("identity step must be nonzero")
    if current_version(path) is None:
        raise ValueError(f"{path}: no version log — not a versioned table")
    _refuse_mapped(path, "identity declaration")
    vroot = _vroot(path)
    os.makedirs(vroot, exist_ok=True)
    spec = {"column": column, "start": start, "step": step} if column else {}
    _fsync_json(os.path.join(vroot, IDENTITY_FILE), spec)
    _append_property_event(path, "identity", spec)


def identity_of(path: str) -> dict | None:
    p = os.path.join(_vroot(path), IDENTITY_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        spec = json.load(fh)
    return spec or None


def identity_high_water(path: str) -> int | None:
    """The maximum identity value ever COMMITTED, resolved from the
    live files' parquet FOOTER stats — driver-side, zero Spark jobs
    (the skipping-manifest harvest pattern), so the allocator never
    needs a high-water ledger that concurrent writers could tear: the
    committed data itself is the ledger.  None when no declaration or
    no rows carry the column yet.

    A vacuumed-away historical maximum cannot regress the counter:
    vacuum only deletes files no RETAINED version references, and the
    retained current snapshot always contains every live identity
    value."""
    decl = identity_of(path)
    if decl is None:
        return None
    from . import skipping as _skipping

    files = _live_data_files(path)
    if not files:
        return None
    rows = _skipping._footer_manifest_rows([decl["column"]], files)
    if rows is None:
        # footer stats unavailable (schema drift / exotic types): fall
        # back is the caller's one distributed agg — refuse here so the
        # caller decides, rather than silently paying a job
        raise ValueError(
            f"{path}: identity column {decl['column']!r} lacks exact "
            "footer stats in some live file — cannot resolve the "
            "high-water driver-side"
        )
    # ascending identity advances past the global MAX; descending past
    # the global MIN — each from the matching footer stat
    key = (f"max__{decl['column']}" if decl["step"] > 0
           else f"min__{decl['column']}")
    vals = [r[key] for r in rows if r.get(key) is not None]
    if not vals:
        return None
    return int(max(vals) if decl["step"] > 0 else min(vals))


def append_with_identity(
    df: DataFrame,
    path: str,
    now: float | None = None,
    partition_by: list[str] | None = None,
    metadata: dict | None = None,
) -> int:
    """Append ``df`` (WITHOUT the identity column) assigning fresh
    identity values: ``next = high_water + step`` seeds the commit, and
    each row gets ``next + step * monotonically_increasing_id()`` —
    per-partition dense counters offset by partition id, so assignment
    is embarrassingly parallel with ZERO shuffles and zero extra jobs
    (Delta identity allows gaps; the sparsity between partitions is the
    price of not coordinating, and it is the price Delta pays too).
    The committed footers become the next allocation's high-water."""
    decl = identity_of(path)
    if decl is None:
        raise ValueError(f"{path}: no identity declaration — set_identity first")
    col, step = decl["column"], decl["step"]
    if col in df.columns:
        raise ValueError(
            f"{path}: incoming frame already carries identity column "
            f"{col!r} — identity values are engine-assigned"
        )
    from pyspark.sql import functions as F

    # pin the snapshot BEFORE resolving the high-water: a commit landing
    # in between must fail the version check loudly, not silently reuse
    # a stale high-water and duplicate the rival's range (r18 review
    # finding #6)
    base_v = current_version(path)
    hw = identity_high_water(path)
    nxt = decl["start"] if hw is None else hw + step
    out = df.withColumn(
        col,
        (F.lit(nxt) + F.lit(step) * F.monotonically_increasing_id())
        .cast("long"),
    )
    cur_cols = [
        f.name
        for f in read_current(df.sparkSession, path).schema.fields
    ]
    return replace_files(
        out.select(*cur_cols), path, remove=[],
        expected_version=base_v, partition_by=partition_by,
        now=now, operation="APPEND", metadata=metadata,
    )


def restore(
    spark: SparkSession,
    path: str,
    version: int,
    now: float | None = None,
) -> int:
    """Delta ``RESTORE TABLE ... TO VERSION AS OF``: re-commits the old
    version's data as a NEW version (history is append-only; the restore
    itself is visible in ``history``)."""
    base_v = current_version(path)
    df = read_version(spark, path, version)
    return overwrite_versioned(
        df, path, now=now, operation=f"RESTORE(v{version})",
        expected_version=base_v,
    )


def restore_as_of(
    spark: SparkSession, path: str, ts: float, now: float | None = None
) -> int:
    """Delta ``RESTORE TABLE ... TO TIMESTAMP AS OF``: restore the
    newest version committed at or before ``ts`` (epoch seconds) —
    :func:`read_as_of`'s resolution through :func:`restore`'s commit."""
    log = _read_log(path)
    eligible = [e for e in log if e["committed_at"] <= ts]
    if not eligible:
        raise ValueError(f"{path}: no version committed at or before {ts}")
    return restore(spark, path, eligible[-1]["version"], now=now)


def clone_table(
    src: str,
    dst: str,
    now: float | None = None,
    version: int | None = None,
    deep: bool = False,
) -> int:
    """Delta ``CLONE`` (``SHALLOW`` by default; ``VERSION AS OF`` via
    ``version=``; ``deep=True`` byte-copies): create ``dst`` as a NEW
    versioned table whose v0 references the source snapshot's data
    files without copying them — hardlinks on the same filesystem
    (byte-copy fallback across filesystems).  The clone is immediately
    independent: its commits rename ITS directory aside / publish ITS
    files, never touching the source's links; vacuuming either table
    merely drops its own link (the inode survives while any table still
    references it) — the same isolation contract Delta's shallow clones
    get from immutable files.  Use for zero-copy dev/test branches off
    production tables.  Entirely spark-free: files hardlink, the
    schema rides the source's log entry.

    The clone starts with its own history (v0 = the clone commit,
    operation recording the source and source version, with the same
    lineage in the commit metadata).  Table PROPERTIES carry over
    (r17, Delta ``CLONE`` copies them) — AS OF the pinned version when
    the source carries a property history (r18, ADVICE #3: Delta clones
    the cloned version's metadata, not the source's current state; a
    CHECK added after the pinned version must not reject the clone's
    own rows), falling back to the source's current state for
    properties declared before the history sidecar existed.  Skipping
    sidecars do NOT carry over (their manifests name the source's file
    URIs) — instead the source's stats column set lands as the clone's
    ``_stats_hint`` so pruning SELF-HEALS on the clone's first commit."""
    src_v = current_version(src)
    if src_v is None:
        raise ValueError(f"{src}: no version log — not a versioned table")
    if version is None:
        version = src_v
    if os.path.exists(dst) or _read_log(dst):
        raise ValueError(f"{dst}: already exists")
    mode = _mode_of(src)
    if mode == "manifest" and version != src_v:
        # validate the pin BEFORE any stage exists (ADVICE r17 #2: an
        # unknown version must not silently clone the current snapshot,
        # and a vacuumed one must fail loudly, not mid-hardlink with an
        # orphan stage) — the same contract _resolve_dir gives the
        # physical path
        known = {e["version"] for e in _read_log(src)}
        if version not in known:
            raise ValueError(
                f"{src}: unknown version {version} "
                f"(log has {sorted(known)})"
            )
        if not _manifest_version_present(src, version):
            raise ValueError(
                f"{src}: version {version} was vacuumed — its history "
                "entry remains but the data is gone"
            )
    if mode == "manifest":
        # only the snapshot's LIVE file set clones — the root's other
        # files belong to the source's history, not the clone's v0
        rels = _snapshot_files(src, version)
        src_root = src
    else:
        src_root = _resolve_dir(src, version)
        rels = []
        for root, dirs, files in os.walk(src_root):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            rel = os.path.relpath(root, src_root)
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                rels.append(os.path.join(rel, f) if rel != "." else f)

    def entry_keys():
        keys = {}
        # the snapshot's schema = the newest entry at or below the
        # pinned version that recorded one
        for e in reversed(_read_log(src)):
            if e["version"] <= version and "schema" in e:
                keys["schema"] = e["schema"]
                break
        # a column-mapped source's clone must keep projecting the SAME
        # physical file names to the pinned version's logical schema
        m = column_mapping(src, version)
        if m is not None:
            keys[MAPPING_KEY] = m
        return keys

    _commit(
        dst, f"CLONE({src}@v{version})", now,
        fill=lambda stage: _link_tree(src_root, stage, rels, copy=deep),
        moves=[(r, r) for r in rels],
        metadata={"source_table": src, "source_version": version,
                  "deep": deep, "files": len(rels)},
        entry_keys=entry_keys, mode=mode,
    )
    # property carry-over (after the commit: a crash here leaves a
    # valid clone merely missing properties, never a torn table):
    # declared clustering + CHECK constraints + the stats self-heal
    # hint.  Version-pinned clones resolve each property AS OF the
    # pinned version through the property history; a property with no
    # history row predates the sidecar and falls back to current state.
    for fname, key in (
        (CLUSTERING_FILE, "clustering"),
        (CONSTRAINTS_FILE, "constraints"),
        # identity carries too (Delta CLONE copies table properties);
        # the clone's allocator is automatically correct — its
        # hardlinked files share the source's footers, so its
        # high-water equals the cloned snapshot's max
        (IDENTITY_FILE, "identity"),
        (GENERATED_FILE, "generated"),
    ):
        if version != src_v:
            found, val = _property_as_of(src, key, version)
            if found:
                if val:  # empty/None = not declared at that version
                    _fsync_json(os.path.join(_vroot(dst), fname), val)
                    # seed the clone's OWN history at its v0 so a later
                    # pinned clone-of-this-clone resolves correctly
                    _append_property_event(dst, key, val)
                continue
        sp = os.path.join(_vroot(src), fname)
        if os.path.exists(sp):
            shutil.copy2(sp, os.path.join(_vroot(dst), fname))
            with open(sp) as fh:
                _append_property_event(dst, key, json.load(fh))
    cols = _manifest_stats_columns(src)  # torn manifest: clone unpruned
    if cols:
        _fsync_json(_stats_hint_path(dst), {"stats_columns": cols})
    return 0


def table_detail(path: str) -> dict:
    """``DESCRIBE DETAIL`` for a versioned table: one dict a dashboard
    or maintenance scheduler can poll without touching Spark — current
    version, live file count/bytes, retained/vacuumed history, commit
    operations histogram, persisted constraints, and which read-side
    sidecars (stats / bloom manifests) the table carries."""
    log = _read_log(path)
    if not log:
        raise ValueError(f"{path}: no version log — not a versioned table")
    files = _live_data_files(path)
    vroot = _vroot(path)
    if _mode_of(path) == "manifest":
        retained = sorted(
            e["version"] for e in log[:-1]
            if _manifest_version_present(path, e["version"])
        )
    else:
        retained = sorted(
            int(d[1:]) for d in os.listdir(vroot)
            if d.startswith("v") and d[1:].isdigit()
        )
    ops: dict = {}
    for e in log:
        ops[e["operation"]] = ops.get(e["operation"], 0) + 1
    from . import skipping

    live_bytes = sum(os.path.getsize(f) for f in files)
    # bytes held only by retained history — what a vacuum can reclaim.
    # Manifest mode: on-disk data files outside the live set (files are
    # shared across versions by reference, so this is exact).  Physical
    # mode: the retention directories.  Pure filesystem walk, no Spark —
    # the same bounded-listing class as the vacuum walk itself.
    snapshot_refs: dict | None = None
    data_file_bytes: dict | None = None
    if _mode_of(path) == "manifest":
        live = {os.path.abspath(f) for f in files}
        superseded = sum(
            os.path.getsize(f)
            for f in _data_files(path)
            if os.path.abspath(f) not in live
        )
        # per-version file references (r17): manifest versions SHARE
        # files by reference, so a retention decision must know which
        # bytes a drop would ACTUALLY free — ``superseded_bytes`` alone
        # over-counts whenever the reclaimable history sits inside the
        # versions keep_last protects (plans/maintenance.decide_table
        # re-dispatched a zero-reclaim vacuum forever on exactly that
        # state).  Same bounded-metadata class as the log replay reads
        # already pay: one _snapshot_files list per retained version.
        snapshot_refs = {
            v: _snapshot_files(path, v)
            for v in retained + [log[-1]["version"]]
        }
        data_file_bytes = {
            os.path.relpath(f, path): os.path.getsize(f)
            for f in _data_files(path)
        }
    else:
        superseded = 0
        for v in retained:
            vdir = os.path.join(vroot, f"v{v}")
            for root, _dirs, names in os.walk(vdir):
                superseded += sum(
                    os.path.getsize(os.path.join(root, n)) for n in names
                )
    return {
        "path": path,
        "current_version": log[-1]["version"],
        "created_at": log[0]["committed_at"],
        "last_modified": log[-1]["committed_at"],
        "num_files": len(files),
        "size_bytes": live_bytes,
        "superseded_bytes": superseded,
        "num_commits": len(log),
        "retained_versions": retained,
        "vacuumed_versions": sorted(
            {e["version"] for e in log[:-1]} - set(retained)
        ),
        "operations": ops,
        "constraints": get_constraints(path),
        "clustering": clustering_of(path),
        "identity": identity_of(path),
        "generated": generated_of(path) or None,
        # any standing mapping dict = RENAME/DROP COLUMN happened since
        # the last full rewrite; file-level pruning is gated until then
        # (a drop-only mapping LOOKS like identity but the files still
        # carry the dropped bytes — report it, same rule as the gates)
        "column_mapping": column_mapping(path),
        "log": log_read_footprint(path),
        "intent": _read_intent(path),
        "tags": sorted(tags(path)),
        # versions a live tag keeps readable: vacuum never drops them,
        # so a retention decision must not count them as reclaimable
        "pinned_versions": sorted(set(tags(path).values())),
        "has_stats_manifest": os.path.isdir(
            os.path.join(path.rstrip("/"), skipping.STATS_DIR)
        ),
        "has_bloom_manifest": os.path.isdir(
            os.path.join(path.rstrip("/"), skipping.BLOOM_DIR)
        ),
        # manifest mode only (None otherwise): what each retained +
        # current version references, and every on-disk data file's
        # size — the inputs an actuator-faithful retention decision
        # needs (files are shared across versions by reference)
        "snapshot_refs": snapshot_refs,
        "data_file_bytes": data_file_bytes,
    }


def transact(
    spark: SparkSession,
    path: str,
    fn,
    max_retries: int = 3,
    now: float | None = None,
    operation: str = "WRITE",
    backoff_s: float = 0.05,
    **commit_kwargs,
) -> int:
    """Delta-style optimistic transaction loop: read the current
    snapshot, derive the new table state with ``fn(snapshot)``, and
    commit it pinned to the snapshot's version — on
    :class:`ConcurrentWriteError` (a commit landed in between, or
    another writer holds the claim right now), re-read and re-derive,
    up to ``max_retries`` retries.

    This is the remedy the conflict-detection contract prescribes
    ("re-read and retry the transaction"), packaged so callers don't
    hand-roll it: because every commit here rewrites the full snapshot,
    any interleaved commit conflicts — there is no disjoint-partition
    commute fast path like real Delta's — so the retry must re-run the
    TRANSFORM, not just re-attempt the commit.  ``fn`` therefore must be
    a pure function of the snapshot it is given.

    ``now`` pins the commit timestamp of whichever attempt wins (same
    reproducibility contract as ``overwrite_versioned``); the linear
    backoff between attempts un-synchronizes racing writers.  Returns
    the committed version.
    """
    return _retry_commit(
        path,
        lambda base_v: overwrite_versioned(
            fn(read_current(spark, path)), path, now=now,
            operation=operation, expected_version=base_v, **commit_kwargs,
        ),
        max_retries, backoff_s, what="transaction",
    )


def _manifest_version_present(path: str, version: int) -> bool:
    try:
        files = _snapshot_files(path, version)
    except ValueError:
        # resolution anchor pruned by log retention: the version is
        # below the retention floor — same answer as vacuumed data
        return False
    return all(os.path.exists(os.path.join(path, f)) for f in files)


def vacuum(
    path: str,
    keep_last: int = 2,
    retain_seconds: float | None = None,
    dry_run: bool = False,
) -> list[int] | dict:
    """Claim-guarded wrapper around the deletion walk — see
    :func:`_vacuum_locked`.  Vacuum takes the table's single commit slot
    for the duration of the walk (ADVICE r12): a manifest-mode commit
    publishes data files via ``_apply_moves`` BEFORE ``_append_log``
    references them, so an unguarded concurrent vacuum would delete the
    mid-publish files and the subsequently-committed version would
    permanently lose data.  A live intent (in-flight or crashed commit)
    makes vacuum refuse with :class:`ConcurrentWriteError` — run
    :func:`recover` first for a crashed writer, exactly the commit-path
    contract.

    ``dry_run=True`` (r17, Delta ``VACUUM ... DRY RUN`` parity) returns
    ``{"versions", "files", "bytes"}`` — exactly what this vacuum would
    drop (versions aged out, the data files ONLY they reference, and
    their byte total) — plus, in manifest mode, ``{"log_files",
    "log_bytes"}``: the files-checkpoints the log-retention leg would
    prune (r18).  Touches NOTHING.  The dry run does not take
    the claim (it is advisory by nature: a commit landing between the
    dry run and the real vacuum changes the answer either way), so it
    can run against a live writer; note that in manifest mode the
    ``files`` list is precisely the actuator-faithful reclaim set
    ``plans/maintenance.decide_table`` prices."""
    if dry_run:
        return _vacuum_plan(path, keep_last, retain_seconds)
    _claim_intent(path, {"op": "vacuum"})
    try:
        return _vacuum_locked(path, keep_last, retain_seconds)
    finally:
        _release_intent(path)


def _vacuum_plan(
    path: str,
    keep_last: int = 2,
    retain_seconds: float | None = None,
) -> dict:
    """What :func:`_vacuum_locked` WOULD do, computed read-only: the
    same to-drop selection (oldest unpinned beyond ``keep_last``, tag-
    and time-retention honored), then — manifest mode — the data files
    no surviving version references, or — physical mode — the retention
    directories' contents.

    ``files`` basis (ADVICE r17 #5 — uniform across modes): every entry
    is TABLE-RELATIVE.  Manifest mode lists the doomed data parquet
    files under the table root; physical mode lists the retention
    directories' contents namespaced under the sidecar retention root's
    name (``<table>.__versions/vN/...``, resolved against the table's
    PARENT directory), and includes non-data files (``_SUCCESS`` etc.)
    because the actuator really deletes them."""
    log = _read_log(path)
    if not log:
        return {"versions": [], "files": [], "bytes": 0}
    current = log[-1]["version"]
    pinned: set = set(tags(path).values())
    if retain_seconds is not None:
        cutoff = log[-1]["committed_at"] - retain_seconds
        pinned |= {e["version"] for e in log if e["committed_at"] >= cutoff}
    if _mode_of(path) == "manifest":
        non_current = [e["version"] for e in log if e["version"] != current]
        present = [v for v in non_current if _manifest_version_present(path, v)]
        unpinned = [v for v in present if v not in pinned]
        to_drop = unpinned[: max(0, len(unpinned) - keep_last)]
        protected: set = set(_snapshot_files(path, current))
        for v in present:
            if v not in to_drop:
                protected |= set(_snapshot_files(path, v))
        doomed = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(root, f), path)
                if rel not in protected:
                    doomed.append(rel)
        doomed.sort()
        # price the log-retention leg too (r18): the files-checkpoints
        # the real vacuum's pruner would delete, given the post-drop
        # floor — each is an O(live-files) document, so a dashboard
        # deciding WHEN to vacuum wants these bytes in the answer
        kept_after = [v for v in present if v not in to_drop]
        q_min = min(kept_after) if kept_after else current
        log_doomed = _doomed_files_checkpoints(path, q_min)

        def _size(fp: str) -> int:
            try:
                return os.path.getsize(fp)
            except OSError:
                return 0  # a racing real vacuum dropped it: advisory 0

        return {
            "versions": to_drop,
            "files": doomed,
            "bytes": sum(_size(os.path.join(path, r)) for r in doomed),
            "log_files": log_doomed,
            "log_bytes": sum(
                _size(os.path.join(_log_dir(path), f)) for f in log_doomed
            ),
        }
    vroot = _vroot(path)
    retained = sorted(
        int(d[1:]) for d in os.listdir(vroot)
        if d.startswith("v") and d[1:].isdigit() and int(d[1:]) != current
    )
    unpinned = [v for v in retained if v not in pinned]
    to_drop = unpinned[: max(0, len(unpinned) - keep_last)]
    doomed, total = [], 0
    for v in to_drop:
        vdir = os.path.join(vroot, f"v{v}")
        for root, _dirs, names in os.walk(vdir):
            for n in names:
                fp = os.path.join(root, n)
                # namespace under the retention root's NAME so a caller
                # consuming plan["files"] can tell physical retention
                # entries from manifest-mode table-relative data paths
                doomed.append(
                    os.path.join(
                        os.path.basename(vroot),
                        os.path.relpath(fp, vroot),
                    )
                )
                total += os.path.getsize(fp)
    return {"versions": to_drop, "files": sorted(doomed), "bytes": total}


def _vacuum_locked(
    path: str,
    keep_last: int = 2,
    retain_seconds: float | None = None,
) -> list[int]:
    """Drop retained version data beyond the newest ``keep_last``
    non-current ones; log entries survive (Delta: history outlives data).
    Returns the vacuumed version numbers.

    ``retain_seconds`` adds Delta's time-based retention (``VACUUM ...
    RETAIN n HOURS``): any version committed within that window of the
    NEWEST commit's timestamp is kept regardless of count.  Versions
    named by a live :func:`tag` are always kept — a tag is a promise the
    data stays readable.

    Physical mode removes whole retention DIRECTORIES.  Manifest mode
    computes the protected file set — the union of the current version's
    files and every kept version's — and deletes every data file outside
    it (files are shared across versions by reference, so a file dies
    only when its last protected referencer ages out; same inode
    economics as the hardlink lane, without the links)."""
    if keep_last < 0:
        raise ValueError("keep_last must be >= 0")
    log = _read_log(path)
    if not log:
        return []
    current = log[-1]["version"]
    pinned: set = set(tags(path).values())
    if retain_seconds is not None:
        cutoff = log[-1]["committed_at"] - retain_seconds
        pinned |= {
            e["version"] for e in log if e["committed_at"] >= cutoff
        }
    if _mode_of(path) == "manifest":
        non_current = [
            e["version"] for e in log if e["version"] != current
        ]
        present = [
            v for v in non_current if _manifest_version_present(path, v)
        ]
        unpinned = [v for v in present if v not in pinned]
        to_drop = unpinned[: max(0, len(unpinned) - keep_last)]
        protected: set = set(_snapshot_files(path, current))
        for v in present:
            if v not in to_drop:
                protected |= set(_snapshot_files(path, v))
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(root, f), path)
                if rel not in protected:
                    os.remove(os.path.join(root, f))
        # log-retention leg (r18): files-checkpoints whose anchor no
        # queryable resolution can reach again go with the data they
        # described — the log-side twin of the deletions above.  The
        # floor comes from the present/to_drop sets computed above, so
        # the per-version presence scan is not paid twice.
        kept_after = [v for v in present if v not in to_drop]
        _prune_files_checkpoints(
            path, q_min=min(kept_after) if kept_after else current
        )
        return to_drop
    vroot = _vroot(path)
    retained = sorted(
        int(d[1:]) for d in os.listdir(vroot)
        if d.startswith("v") and d[1:].isdigit() and int(d[1:]) != current
    )
    unpinned = [v for v in retained if v not in pinned]
    to_drop = unpinned[: max(0, len(unpinned) - keep_last)]
    for v in to_drop:
        shutil.rmtree(os.path.join(vroot, f"v{v}"))
    return to_drop


def convert_to_versioned(
    spark: SparkSession,
    path: str,
    snapshot_mode: str = "manifest",
    now: float | None = None,
    stats_columns: list[str] | None = None,
) -> int:
    """Delta ``CONVERT TO DELTA``: adopt an EXISTING plain-parquet
    directory as a versioned table IN PLACE — the standing data files
    become version 0 by reference; nothing is read, rewritten, moved,
    or copied.  At 100 TB this is the difference between an adoption
    that finishes in one metadata commit and a multi-hour full rewrite:
    the cost is one file listing (the same walk ``table_detail`` pays)
    plus one fsynced log entry.  After conversion every versioned
    operation — append/MERGE/OPTIMIZE/time travel/vacuum/CDF — works on
    the table; ``snapshot_mode`` fixes the layout exactly as a fresh
    ``overwrite_versioned`` would (``"manifest"`` default: the adopted
    files are v0's ``add`` actions and are never moved afterwards).

    Crash-safe via the standard write-ahead intent: the claim is taken,
    the full v0 entry is journaled, and ``recover()`` rolls a death at
    any point forward to the logged table (the "moves" list is empty —
    adoption performs no file operations, so forward is trivially
    safe).  Refuses a table that is already versioned, an empty
    directory, and a directory carrying a live deletion-vector sidecar
    (DV marks compose with the PLAIN read path; purge first so the
    adopted v0 equals what ``read_dv`` served).

    ``stats_columns`` opts the adopted table into skipping immediately
    (footer-harvested when exact — zero Spark jobs, the Iceberg
    manifest pattern)."""
    if snapshot_mode not in ("physical", "manifest"):
        raise ValueError(f"unknown snapshot_mode {snapshot_mode!r}")
    if _read_log(path):
        raise ValueError(
            f"{path}: already a versioned table (v{current_version(path)})"
        )
    from .deletion_vectors import DV_DIR

    if os.path.isdir(os.path.join(path.rstrip("/"), DV_DIR)):
        raise ValueError(
            f"{path}: convert refuses a table with a live deletion-vector "
            "sidecar — the adopted snapshot would resurrect marked rows; "
            "purge_dv first"
        )
    from . import skipping as _skipping

    if os.path.isdir(
        os.path.join(path.rstrip("/"), _skipping.STATS_DIR)
    ) or os.path.isdir(os.path.join(path.rstrip("/"), _skipping.BLOOM_DIR)):
        # a stats/bloom sidecar from a PREVIOUS table life names a file
        # set whose freshness this adoption cannot vouch for — a stale
        # manifest would let pruned reads silently SKIP live files.
        # Self-heal exactly as a crashed rebuild does (r18, VERDICT r17
        # ask #6b): drop the sidecars (readers fall back to full
        # listings — always safe) and keep the column set as the
        # _stats_hint so the first maintenance pass rebuilds pruning.
        _drop_sidecars(path)
    if os.path.isdir(_vroot(path)):
        # a LOGLESS versions root is residue from a previous table life
        # (the already-versioned refusal above proved there is no log):
        # stale property declarations (clustering/constraints/identity)
        # must not leak into the adopted table's contract
        for fname in (CLUSTERING_FILE, CONSTRAINTS_FILE, IDENTITY_FILE,
                      GENERATED_FILE, PROPERTIES_LOG, TAGS_FILE):
            try:
                os.remove(os.path.join(_vroot(path), fname))
            except OSError:
                pass
    files = sorted(
        os.path.relpath(f, path) for f in _data_files(path)
    )
    if not files:
        raise ValueError(f"{path}: no parquet data files to adopt")
    _commit(
        path, "CONVERT", now, metadata={"adopted_files": len(files)},
        # adoption stages and moves nothing: the standing files become
        # v0's add actions by reference (recover() rolls forward through
        # the empty move list)
        entry_keys=lambda: {
            "add": files, "schema": spark.read.parquet(path).schema.json()
        },
        mode=snapshot_mode,
        sidecars=(
            (lambda *_: _skipping.write_stats_manifest(
                spark, path, list(stats_columns),
                files=[os.path.join(path, r) for r in files],
            ))
            if stats_columns else None
        ),
    )
    return 0


def table_changes(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    from_version: int,
    to_version: int,
) -> DataFrame:
    """Change Data Feed between two retained versions (Delta
    ``table_changes`` shape): every row keyed by ``key_cols`` classified as
    ``insert`` / ``delete`` / ``update_preimage`` / ``update_postimage``
    in a ``_change_type`` column, with ``_commit_version`` = ``to_version``.

    Snapshot-diff semantics: changes are NET across the version range
    (a row inserted then deleted between the endpoints does not appear) —
    the coalesced view downstream consumers actually want; per-commit
    granularity needs the real transaction log (delta-available() path).

    Plan: ONE full-outer join of the two snapshots on the keys; update
    detection is a single null-safe struct equality over the non-key
    columns — no per-column expression blowup, full codegen.  Row
    classification reads existence MARKER columns added to each side
    before the join (the ``_T_MARK``/``_S_MARK`` pattern
    ``plans/merge.py`` uses), never key nullability — the join matches
    NULL keys null-safely, so a row whose first key column is NULL must
    still classify as present (ADVICE r7: key-nullness classification
    silently dropped such rows from the feed).
    """
    from functools import reduce

    from pyspark.sql import functions as F

    # resolve each snapshot ONCE (r19): read_version costs a manifest
    # resolution + reader construction per call, and the two extra
    # calls here existed only to re-derive .columns
    old_snap = read_version(spark, path, from_version)
    new_snap = read_version(spark, path, to_version)
    old = old_snap.withColumn("__o_mark", F.lit(True)).alias("o")
    new = new_snap.withColumn("__n_mark", F.lit(True)).alias("n")
    cols = new_snap.columns
    if set(cols) != set(old_snap.columns):
        raise ValueError(
            "table_changes across a schema change is not supported on the "
            "snapshot-diff path"
        )
    non_keys = [c for c in cols if c not in key_cols]
    on = reduce(
        lambda a, b: a & b,
        [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in key_cols],
    )
    j = old.join(new, on, "full_outer")
    in_old = F.col("o.__o_mark").isNotNull()
    in_new = F.col("n.__n_mark").isNotNull()
    same = (
        F.struct(*[F.col(f"o.{c}") for c in non_keys]).eqNullSafe(
            F.struct(*[F.col(f"n.{c}") for c in non_keys])
        )
        if non_keys
        else F.lit(True)
    )

    def side(prefix: str) -> list:
        return [F.col(f"{prefix}.{c}").alias(c) for c in cols]

    ver = F.lit(to_version).cast("long").alias("_commit_version")
    inserts = j.filter(~in_old & in_new).select(
        *side("n"), F.lit("insert").alias("_change_type"), ver
    )
    deletes = j.filter(in_old & ~in_new).select(
        *side("o"), F.lit("delete").alias("_change_type"), ver
    )
    changed = j.filter(in_old & in_new & ~same)
    pre = changed.select(
        *side("o"), F.lit("update_preimage").alias("_change_type"), ver
    )
    post = changed.select(
        *side("n"), F.lit("update_postimage").alias("_change_type"), ver
    )
    return inserts.unionByName(deletes).unionByName(pre).unionByName(post)


def table_changes_per_commit(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    from_version: int,
    to_version: int,
) -> DataFrame:
    """Change Data Feed at PER-COMMIT granularity (real Delta CDF shape):
    the snapshot diff of every consecutive version pair in
    ``(from_version, to_version]``, unioned — a row updated in v2 and
    again in v4 yields BOTH update pairs (each stamped with its own
    ``_commit_version``), where :func:`table_changes` coalesces them to
    the net change.  This closes the r7 "per-commit granularity needs
    the real transaction log" divergence for ranges whose intermediate
    versions are still retained: the append-only log already names every
    commit, so the feed replays ``(v, v+1)`` for each.

    Every intermediate version must not have been vacuumed (same
    retention contract Delta CDF has — ``VACUUM`` destroys the feed).
    Cost: ``R`` snapshot joins for a range of ``R`` commits, each
    key-partitioned and independent (they union, so Spark schedules them
    in parallel); at 100 TB you bound ``R`` by reading the feed
    incrementally per commit, which is how CDC consumers tail a log
    anyway."""
    from functools import reduce as _reduce

    if to_version <= from_version:
        raise ValueError(
            f"to_version {to_version} must be > from_version {from_version}"
        )
    log_versions = sorted(e["version"] for e in _read_log(path))
    pairs = [
        (v, w)
        for v, w in zip(log_versions, log_versions[1:])
        if from_version <= v and w <= to_version
    ]
    if not pairs or pairs[0][0] != from_version or pairs[-1][1] != to_version:
        raise ValueError(
            f"{path}: log does not cover every commit in "
            f"({from_version}, {to_version}] — have {log_versions}"
        )
    feeds = [table_changes(spark, path, key_cols, v, w) for v, w in pairs]
    return _reduce(lambda a, b: a.unionByName(b), feeds)


def cdf_to_cdc_events(changes: DataFrame) -> DataFrame:
    """Adapt a :func:`table_changes` feed into the CDC-event shape
    ``plans.pipeline.Pipeline.apply_changes`` consumes: keep inserts and
    update POST-images as upserts, keep deletes, drop pre-images (they
    carry no target state), and expose ``_change_type``/``_commit_version``
    as ``operation``/``sequence_num`` — so a versioned table's change feed
    can drive a downstream SCD dimension with
    ``apply_as_deletes="operation = 'DELETE'"`` and
    ``sequence_by="sequence_num"``, the same wiring a Delta CDF → DLT
    pipeline uses."""
    from pyspark.sql import functions as F

    return (
        changes.filter(F.col("_change_type") != "update_preimage")
        .withColumn(
            "operation",
            F.when(F.col("_change_type") == "delete", F.lit("DELETE"))
            .otherwise(F.lit("UPSERT")),
        )
        .withColumnRenamed("_commit_version", "sequence_num")
        .drop("_change_type")
    )


def recover(path: str) -> bool:
    """Crash recovery, driven by the write-ahead commit intent: a commit
    that journaled its intent (stage dir + target log entry) is rolled
    FORWARD to completion from whichever step it died at — the stage is
    known-complete once the intent exists, so forward is always safe:

    * died before the aside-rename → aside, promote, log, clear intent;
    * died between the renames → promote, log, clear intent;
    * died promoted-but-unlogged → append the missing log entry (the
      ADVICE r7 hole: previously the new data sat at the table path
      silently attributed to the old version, and the NEXT commit's
      aside-rename collided with the existing retention dir);
    * died logged-but-intent-left → clear the intent;
    * died holding only the CLAIM (intent with no target entry — the
      version was never assigned, so renames never started) → clear the
      claim and sweep the orphan stage;
    * intent unparsable (power loss truncated it) → same as claim-only:
      a full intent is fsynced before any rename, so a torn intent
      PROVES the commit never reached the rename phase (ADVICE r8:
      previously this raised JSONDecodeError instead of repairing).

    Stage directories NOT named by a live intent are orphans from a
    writer that died mid-write (table untouched) and are swept.  Returns
    True if any repair beyond orphan-sweeping was performed.  Idempotent;
    safe to run at every startup, like Delta's log replay — and unlike
    the pre-r8 version, that claim now covers every crash point in the
    commit, not just the between-renames window."""
    try:
        intent = _read_intent(path)
    except (json.JSONDecodeError, ValueError):
        intent = {}  # torn mid-write: commit never reached the renames
    repaired = False
    if intent is not None:
        if "sidecars_pending" in intent:
            # a commit died after logging but before its skipping
            # sidecars were rebuilt (ADVICE r15 #2): the manifests may
            # still describe the retired live set — drop them (pruning
            # pauses until the next stats_columns commit or maintenance
            # rebuild; never-wrongly-prune is preserved)
            _drop_sidecars(path)
            repaired = True
        elif "entry" in intent:
            entry, stage = intent["entry"], intent["stage"]
            version = entry["version"]
            log = _read_log(path)
            logged = log and log[-1]["version"] >= version
            if not logged:
                if "moves" in intent:
                    # manifest commit: finish the per-file publishes
                    # (idempotent — moves whose source is gone already
                    # landed) and append the action entry
                    os.makedirs(path, exist_ok=True)
                    _apply_moves(path, stage, intent["moves"])
                else:
                    vroot = _vroot(path)
                    aside = os.path.join(vroot, f"v{version - 1}")
                    if os.path.exists(stage):
                        # promote not reached; finish the rename pair first
                        if os.path.exists(path) and not os.path.exists(aside):
                            os.rename(path, aside)
                        os.rename(stage, path)
                _append_log(path, entry)
                repaired = True
            if "moves" in intent:
                # a manifest-mode file-subset commit holding its entry
                # intent died BEFORE its sidecar rebuild could run (the
                # rebuild happens under the sidecars_pending marker):
                # whatever sidecars stand still describe the pre-commit
                # live set — drop them (ADVICE r15 #2)
                _drop_sidecars(path)
                repaired = True
        _release_intent(path)
    # orphan stages: no live intent names them — writer died mid-write,
    # the table was never touched
    parent = os.path.dirname(path.rstrip("/")) or "."
    base = os.path.basename(path.rstrip("/"))
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            if d.startswith(f"{base}.__stage_"):
                shutil.rmtree(os.path.join(parent, d))
    # legacy safety net (pre-intent writers): table path missing while the
    # log's newest version sits in retention — rename it back
    log = _read_log(path)
    if log and not os.path.exists(path):
        vdir = os.path.join(_vroot(path), f"v{log[-1]['version']}")
        if os.path.exists(vdir):
            os.rename(vdir, path)
            repaired = True
    return repaired


def _link_tree(src: str, dst: str, rels, copy: bool = False) -> None:
    """Mirror the table-relative files ``rels`` of ``src`` into ``dst``
    as hardlinks (byte copies with ``copy`` or across filesystems) — the
    zero-copy primitive behind the physical successor tree and
    :func:`clone_table`."""
    os.makedirs(dst, exist_ok=True)
    for rel in rels:
        s, d = os.path.join(src, rel), os.path.join(dst, rel)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        if copy:
            shutil.copy2(s, d)
            continue
        try:
            os.link(s, d)
        except OSError:  # pragma: no cover — cross-filesystem fallback
            shutil.copy2(s, d)


def replace_partitions(
    df: DataFrame,
    path: str,
    partition_by: str,
    expected_version: int,
    now: float | None = None,
    operation: str = "REPLACE_PARTITIONS",
) -> int:
    """Delta dynamic partition overwrite (``replaceWhere``) with
    COMMUTING conflict detection — the missing multi-writer rung above
    :func:`transact`'s serialize-everything loop: a commit pinned to
    snapshot ``expected_version`` still lands if every commit that
    arrived in between is itself a ``replace_partitions`` on DISJOINT
    partitions of the same column (Delta's logical conflict rule: blind
    partition replacements commute; anything else — full WRITE, DML,
    OPTIMIZE — conflicts and forces a re-read).

    Physical shape: only the touched partitions are written.  ``df``
    stages hive-partitioned (touched set = exactly the partition dirs
    Spark wrote — canonical encoding, no reimplementation); under the
    commit claim, the new snapshot assembles as HARDLINKS of the live
    table's untouched partition dirs plus the staged dirs — O(changed
    bytes + link count), never a full rewrite, same inode-sharing
    contract as :func:`clone_table` (vacuum on any version only drops
    its own links).  Assembly runs under the claim ON PURPOSE: linking
    from the live table is what makes a commuting rival's rows survive
    into this commit's snapshot.

    Crash-safety is the commit tail's (:func:`_commit`): the full intent
    is journaled only once assembly is complete, so :func:`recover`
    rolls any later crash forward; a crash during assembly leaves a
    claim-only intent (cleared) and orphan stage dirs (swept).  The
    touched partitions' skipping sidecars are refreshed inside the
    tail's sidecar window.  Requires the live table to be hive-partitioned by
    ``partition_by`` (refused loudly otherwise — linking root data files
    next to partition dirs would corrupt the scan layout).
    """
    if current_version(path) is None:
        raise ValueError(
            f"{path}: no version log — create the table with "
            "overwrite_versioned(partition_by=[...]) first"
        )
    _refuse_mapped(path, "replace_partitions")
    effective = get_constraints(path)
    if effective:
        # persisted CHECK constraints gate EVERY commit path — including
        # this one; the aggregate runs over the INCOMING frame only
        # (partition-proportional), same contract as overwrite_versioned
        from ..plans.expectations import expect_all_or_fail

        expect_all_or_fail(df, effective)
    prefix = f"{partition_by}="
    live_entries = [
        e for e in os.listdir(path) if not e.startswith(("_", "."))
    ]
    bad = [e for e in live_entries if not e.startswith(prefix)]
    if bad:
        raise ValueError(
            f"{path}: not hive-partitioned by {partition_by!r} "
            f"(found {bad[:3]}); replace_partitions needs a partitioned "
            "layout to link untouched partitions"
        )
    from . import skipping

    spark_ = df.sparkSession
    # filled by fill() once the stage exists: exactly the partition dirs
    # Spark wrote (canonical encoding, no reimplementation)
    touched: list[str] = []

    def fill(stage):
        (
            df.write.mode("overwrite").format("parquet")
            .partitionBy(partition_by).save(stage)
        )
        touched.extend(sorted(
            e for e in os.listdir(stage)
            if e.startswith(prefix) and not e.startswith(("_", "."))
        ))
        if not touched:
            raise ValueError(
                f"{path}: incoming frame has no {partition_by} rows"
            )

    def commute(log):
        # Delta's logical conflict rule: every commit after the pinned
        # snapshot must be a partition replace of the same column on
        # DISJOINT partitions
        for e in log:
            if e["version"] <= expected_version:
                continue
            meta = e.get("metadata") or {}
            rivals = meta.get("touched_partitions")
            if (
                rivals is None
                or meta.get("partition_by") != partition_by
                or set(rivals) & set(touched)
            ):
                raise ConcurrentWriteError(
                    f"{path}: snapshot was v{expected_version}, table "
                    f"is at v{log[-1]['version']}, and intervening commit "
                    f"v{e['version']} ({e['operation']}) does not "
                    f"commute with partitions {touched} — re-read "
                    "and retry"
                )

    def retire(live):
        gone = set(touched)
        return [f for f in live if f.split(os.sep, 1)[0] in gone]

    def maintain(version, mode, removed, added):
        # incremental skipping-manifest maintenance: untouched
        # partitions' rows stay valid (their files kept their paths);
        # recompute the touched partitions only — commit-proportional.
        # Physical mode reads the superseded sidecars from the
        # renamed-aside version; manifest mode's never move, and the
        # touched rescan is pinned to the NEW files (the touched dirs
        # also hold the replaced files until vacuum).
        if mode == "manifest":
            src, files = path.rstrip("/"), [
                os.path.join(path, f) for f in sorted(added)
            ]
        else:
            src, files = os.path.join(_vroot(path), f"v{version - 1}"), None
        old_man = os.path.join(src, skipping.STATS_DIR)
        if os.path.isdir(old_man):
            skipping.update_stats_manifest_partitions(
                spark_, path, touched, spark_.read.parquet(old_man),
                files=files,
            )
        # same rule for the BLOOM manifest (VERDICT r11 ask #3): without
        # it, equality probes keep the replaced files' stale filters and
        # know nothing about the new files
        old_bloom = os.path.join(src, skipping.BLOOM_DIR)
        if os.path.isdir(old_bloom):
            skipping.update_bloom_manifest_partitions(
                spark_, path, touched, spark_.read.parquet(old_bloom),
                files=files,
            )

    standing = any(
        os.path.isdir(os.path.join(path.rstrip("/"), d))
        for d in (skipping.STATS_DIR, skipping.BLOOM_DIR)
    )
    return _commit(
        path, operation, now, fill=fill,
        metadata={"touched_partitions": touched,
                  "partition_by": partition_by},
        check=commute,
        # manifest mode: the entry LISTS the change (add = the staged
        # files, remove = the replaced partitions' live files) and
        # untouched files are never read, linked, or renamed — O(changed
        # files).  Physical mode links the untouched partitions' files
        # into the successor tree under the claim, which is what makes a
        # commuting rival's rows survive into this snapshot.
        remove=retire,
        entry_keys=lambda: {"schema": df.schema.json()},
        sidecars=maintain if standing else None,
    )


def optimize_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    partitions: list,
    target_file_bytes: int = 128 * 1024 * 1024,
    now: float | None = None,
) -> int:
    """Partition-scoped ``OPTIMIZE`` THROUGH the commute gate: compact
    only the named partition values, committed via
    :func:`replace_partitions` — so maintenance no longer serializes
    against ingestion the way the full-table :func:`optimize_compact`
    does (its ``expected_version`` pin conflicts with ANY interleaved
    commit).  A compaction of ``g=0`` and a writer replacing ``g=1``,
    both pinned to the same snapshot, BOTH land — the property that
    matters at 100 TB, where maintenance windows and ingestion overlap
    by construction.  Data is bit-identical (pure layout); the commit
    logs as ``OPTIMIZE_PARTITIONS`` with its touched set, so IT commutes
    under rival disjoint maintenance too.
    """
    if current_version(path) is None:
        raise ValueError(f"{path}: no version log — not a versioned table")
    base_v = current_version(path)
    from pyspark.sql import functions as F

    df = read_current(spark, path).filter(
        F.col(partition_col).isin(list(partitions))
    )
    if _mode_of(path) == "manifest":
        prefixes = {f"{partition_col}={p}" for p in partitions}
        sub_files = [
            f for f in _live_data_files(path)
            if os.path.relpath(f, path).split(os.sep, 1)[0] in prefixes
        ]
    else:
        sub_files = [
            f
            for p in partitions
            for f in _data_files(os.path.join(path, f"{partition_col}={p}"))
        ]
    if not sub_files:
        raise ValueError(
            f"{path}: no data files under {partition_col} in {partitions}"
        )
    total = sum(os.path.getsize(f) for f in sub_files)
    n_target = max(1, -(-total // target_file_bytes))
    if n_target >= len(sub_files):
        return base_v  # already compact — don't churn history
    compacted = df.repartition(n_target, F.col(partition_col))
    return replace_partitions(
        compacted, path, partition_col,
        expected_version=base_v, now=now, operation="OPTIMIZE_PARTITIONS",
    )


def transact_partitions(
    spark: SparkSession,
    path: str,
    partition_by: str,
    fn,
    max_retries: int = 3,
    now: float | None = None,
    operation: str = "REPLACE_PARTITIONS",
    backoff_s: float = 0.05,
) -> int:
    """The optimistic retry loop for partition-scoped writes — the
    :func:`transact` counterpart built on :func:`replace_partitions`'
    commute rule, so a retry only happens on a GENUINE conflict
    (overlapping partitions or a non-partition rival); commuting rivals
    never cost a retry, which is the whole point of the fast path.

    ``fn(snapshot) -> DataFrame`` derives the replacement rows (all
    partitions the frame contains are replaced) from the snapshot it is
    given, and must be pure: a retry re-reads and re-derives.  A lost
    O_EXCL claim race (another commit's tail in flight RIGHT NOW) also
    retries — that window is milliseconds, unlike a conflict.
    """
    return _retry_commit(
        path,
        lambda base_v: replace_partitions(
            fn(read_current(spark, path)), path, partition_by,
            expected_version=base_v, now=now, operation=operation,
        ),
        max_retries, backoff_s, what="partition transaction",
    )


# ---------------------------------------------------------------------------
# Snapshot tags (Iceberg's named-ref concept on this lane's commit log)
# ---------------------------------------------------------------------------

TAGS_FILE = "_tags.json"


MANIFEST_DIR = "_symlink_format_manifest"


def generate_symlink_manifest(path: str) -> list[str]:
    """Delta ``GENERATE symlink_format_manifest`` parity: write text
    manifests listing the CURRENT snapshot's data files (absolute
    ``file:`` URIs, one per line) under
    ``<table>/_symlink_format_manifest/`` — the contract external
    engines (Trino/Presto/Athena-style readers) use to scan a
    consistent snapshot of a table whose directory holds superseded
    files.  Hive-partitioned tables get one manifest per partition
    directory, mirroring Delta's layout.  Driver-side: one live-file
    listing + one small text file per partition.  Regenerate after
    commits — the manifest is a point-in-time export, exactly as in
    Delta.  Returns the manifest file paths written."""
    import shutil as _sh

    # external engines read the files RAW — physical names, dropped
    # columns' bytes — so a standing column mapping refuses (Delta
    # likewise blocks manifest generation under column mapping)
    _refuse_mapped(path, "generate_symlink_manifest")
    files = _live_data_files(path)
    root = os.path.join(path.rstrip("/"), MANIFEST_DIR)
    _sh.rmtree(root, ignore_errors=True)
    groups: dict[str, list[str]] = {}
    for f in files:
        rel = os.path.relpath(f, path)
        part = os.path.dirname(rel)  # hive dirs, or "" when flat
        groups.setdefault(part, []).append(
            "file:" + os.path.abspath(f)
        )
    out = []
    for part, uris in sorted(groups.items()):
        d = os.path.join(root, part) if part else root
        os.makedirs(d, exist_ok=True)
        target = os.path.join(d, "manifest")
        tmp = target + ".tmp"
        with open(tmp, "w") as fh:
            fh.write("\n".join(sorted(uris)) + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, target)
        out.append(target)
    return out


def fsck_repair(path: str, now: float | None = None) -> list[str]:
    """Delta ``FSCK REPAIR TABLE`` parity (manifest mode): commit a new
    version whose snapshot drops references to data files that are
    MISSING on disk (deleted out-of-band — the failure Delta's FSCK
    exists for).  Returns the dropped table-relative paths; no commit
    when nothing is missing.  The repair is a pure log operation — the
    remaining files are untouched — and history keeps the damaged
    version readable-as-error rather than silently shrunken."""
    if _mode_of(path) != "manifest":
        raise ValueError(
            f"{path}: fsck_repair needs a manifest-mode table — a "
            "physical snapshot with missing files needs a restore"
        )
    cur = current_version(path)
    if cur is None:
        raise ValueError(f"{path}: no version log — not a versioned table")
    live = _snapshot_files(path, cur)
    missing = sorted(
        rel for rel in live
        if not os.path.exists(os.path.join(path, rel))
    )
    if not missing:
        return []
    # a pure log operation pinned to the snapshot the missing list came
    # from; file refs change under any standing skipping sidecars
    _commit(
        path, "FSCK", now, metadata={"removed_missing": len(missing)},
        check=_expect(path, cur), remove=lambda live: missing,
        sidecars=lambda *_: _drop_sidecars(path),
    )
    return missing


def tags(path: str) -> dict:
    """name -> pinned version, for every live tag."""
    p = os.path.join(_vroot(path), TAGS_FILE)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def tag(path: str, name: str, version: int | None = None) -> int:
    """Pin a named tag to ``version`` (default: the current version) —
    Iceberg's tag ref: a durable, human-named pointer into history that
    :func:`vacuum` RETAINS (the data a tag names never ages out while
    the tag lives).  Re-tagging a name moves it.  Returns the pinned
    version."""
    log = _read_log(path)
    if not log:
        raise ValueError(f"{path}: no version log — not a versioned table")
    v = log[-1]["version"] if version is None else version
    if v not in {e["version"] for e in log}:
        raise ValueError(f"{path}: unknown version {v}")
    t = tags(path)
    t[name] = v
    _fsync_json(os.path.join(_vroot(path), TAGS_FILE), t)
    return v


def delete_tag(path: str, name: str) -> None:
    """Drop a tag; the version it named becomes vacuum-eligible again."""
    t = tags(path)
    if name not in t:
        raise ValueError(f"{path}: no tag {name!r}")
    del t[name]
    _fsync_json(os.path.join(_vroot(path), TAGS_FILE), t)


def read_tag(spark: SparkSession, path: str, name: str) -> DataFrame:
    """The table exactly as the tagged version committed it."""
    t = tags(path)
    if name not in t:
        raise ValueError(f"{path}: no tag {name!r} (have {sorted(t)})")
    return read_version(spark, path, t[name])
