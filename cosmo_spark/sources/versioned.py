"""Versioned snapshot tables: immutable versions, time-travel reads, vacuum.

The no-dependency slice of a lakehouse table format, built from the
repo's existing primitives: each publish writes an immutable ``v=N`` data
directory and then atomically swaps a tiny JSON manifest naming the
current version — readers NEVER list the table directory (half-written
or vacuumed versions are invisible until/after the manifest says so),
and any historical version stays readable until vacuumed (time travel;
``operators/merge.snapshot_diff`` between two versions is CDC).

Concurrency contract: publishing runs under the same single-writer lock
as the version-guarded merge (operators/merge._table_lock) — a second
concurrent publisher fails LOUDLY with MergeContentionError instead of
interleaving version numbers.  Readers are lock-free: the manifest is a
single file swapped with os.replace, so a read sees the old version or
the new one, never a mixture.  On a Delta/Iceberg deployment this module
maps 1:1 onto their transaction log; the semantics (and tests) carry
over unchanged.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import socket
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "_versions.json"

#: crashed publishers' tmp dirs older than this are reaped even when their
#: owner pid cannot be checked (another host); a LIVE publisher's tmp is
#: always younger — parquet part files keep landing in it
_TMP_MAX_AGE_S = 24 * 3600

#: the flat-table adoption tmp has a FIXED name so an interrupted migration
#: resumes (moves the remaining flat entries into the same dir) instead of
#: being reaped with half the table inside
_MIG_TMP = "v.tmp-migrate"


def _manifest_path(table_path: str) -> str:
    return os.path.join(table_path, _MANIFEST)


def _read_manifest(table_path: str) -> dict:
    try:
        with open(_manifest_path(table_path)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"current": None, "versions": []}


def _write_manifest(table_path: str, doc: dict) -> None:
    tmp = _manifest_path(table_path) + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _manifest_path(table_path))


def _tmp_owner_pid(entry: str) -> int | None:
    m = re.search(r"tmp-(\d+)-", entry)
    return int(m.group(1)) if m else None


def _has_flat_data(table_path: str) -> bool:
    """True when ``table_path`` holds a legacy FLAT parquet table (part
    files directly in the dir, no version manifest)."""
    if not os.path.isdir(table_path):
        return False
    for entry in os.listdir(table_path):
        if entry == _MANIFEST or entry.startswith(("v=", "v.tmp-")):
            continue
        if entry.startswith("part-") or entry.endswith(".parquet") \
                or entry == "_SUCCESS":
            return True
    return False


def _adopt_legacy_locked(table_path: str) -> dict:
    """Adopt pre-versioned state as version 1 — ZERO-COPY: legacy flat
    entries MOVE into ``v=1``, so the pre-merge state of a table that
    predates versioning becomes time-travelable instead of being
    destroyed by its first snapshot-backed publish.  Caller holds the
    table lock and the manifest is absent.

    Crash-complete (r9 self-review #1): every interruption point of a
    previous attempt resumes or completes here, never loses the table —
    - ``v=1`` present, no flat/tmp remnants: a predecessor crashed
      between its final rename and the manifest write; just adopt it
      (without this, the orphan reaper would see an unknown v=1 and
      DELETE the only copy of the table).
    - migration tmp present (crash mid-move): keep moving the remaining
      flat entries into it, then rename + manifest.
    - flat entries only: the full move.
    Returns the manifest doc ({current: None} when there is nothing to
    adopt).  A concurrent lock-free FLAT reader racing the one-time
    migration may fail loudly mid-scan — run the first snapshot-backed
    publish at a quiet moment."""
    v1 = os.path.join(table_path, "v=1")
    mig = os.path.join(table_path, _MIG_TMP)
    has_flat = _has_flat_data(table_path)
    if os.path.isdir(v1):
        if has_flat or os.path.isdir(mig):
            raise RuntimeError(
                f"{table_path}: both v=1 and unmigrated legacy state "
                f"exist — refusing to guess which is the table; inspect "
                f"and remove one manually"
            )
        doc = {"current": 1, "versions": [{"version": 1}]}
        _write_manifest(table_path, doc)
        return doc
    if not has_flat and not os.path.isdir(mig):
        return {"current": None, "versions": []}
    os.makedirs(mig, exist_ok=True)
    for entry in os.listdir(table_path):
        if entry == _MANIFEST or entry.startswith(("v=", "v.tmp-")):
            continue
        os.rename(os.path.join(table_path, entry), os.path.join(mig, entry))
    os.replace(mig, v1)
    doc = {"current": 1, "versions": [{"version": 1}]}
    _write_manifest(table_path, doc)
    return doc


def _reap_orphans_locked(table_path: str, doc: dict, keep: str) -> None:
    """Remove crashed publishers' leftovers.  Caller holds the table lock.

    - ``v=N`` dirs the manifest never adopted (crash between rename and
      manifest write — such dirs are only ever created inside the lock,
      so any unknown one is dead) are removed.
    - ``v.tmp-*`` dirs may belong to a LIVE publisher writing OUTSIDE the
      lock (the whole point of the shrunken lock window), so they are
      reaped only when provably abandoned: the owner pid embedded in the
      name is dead on this host, or the dir went untouched for
      _TMP_MAX_AGE_S.  A false reap (pid reuse, cross-host pid alias)
      fails that publisher's final rename LOUDLY — never silent loss.
    - the fixed-name migration tmp is never reaped (it resumes instead).
    """
    from cosmo_spark.operators.merge import _pid_alive

    known = {v["version"] for v in doc["versions"]}
    host = socket.gethostname()
    for entry in os.listdir(table_path):
        p = os.path.join(table_path, entry)
        if p == keep or entry == _MIG_TMP or not os.path.isdir(p):
            continue
        if entry.startswith("v.tmp-") or ".tmp-" in entry:
            pid = _tmp_owner_pid(entry)
            owner_here = pid is not None and f"-{host}-" in entry
            try:
                age = time.time() - os.path.getmtime(p)
            except OSError:
                continue
            if (owner_here and not _pid_alive(pid)) or age > _TMP_MAX_AGE_S:
                shutil.rmtree(p, ignore_errors=True)
        elif entry.startswith("v="):
            try:
                n = int(entry[2:])
            except ValueError:
                continue
            if n not in known:
                shutil.rmtree(p, ignore_errors=True)


def _new_tmp(table_path: str) -> str:
    return os.path.join(
        table_path,
        f"v.tmp-{os.getpid()}-{socket.gethostname()}-{uuid.uuid4().hex[:8]}",
    )


def _publish_locked(
    table_path: str, tmp_data_dir: str, doc: dict, guard=None
) -> int:
    """The in-lock half of a publish: reap dead orphans, rename the
    pre-written data dir to ``v=N``, bump the manifest.  Shared by
    write_snapshot and the snapshot-backed merge (operators/merge).

    ``guard`` (operators/merge LockGuard) provides FENCING: ownership is
    re-verified before the destructive reap and again immediately before
    the manifest commit, so a holder whose lease was broken while it was
    paused aborts LOUDLY here instead of committing over its successor's
    state (r9 self-review #2/#3)."""
    if guard is not None:
        guard.verify()
    version = (doc["current"] or 0) + 1
    _reap_orphans_locked(table_path, doc, keep=tmp_data_dir)
    os.replace(tmp_data_dir, os.path.join(table_path, f"v={version}"))
    doc["versions"].append({"version": version})
    doc["current"] = version
    if guard is not None:
        guard.verify()   # the commit point
    _write_manifest(table_path, doc)
    return version


def write_snapshot(df: DataFrame, table_path: str) -> int:
    """Publish ``df`` as the table's next immutable version; returns the
    new version id.

    The expensive distributed parquet write runs OUTSIDE the table lock
    (round-8 review #1): a slow publish no longer serializes other
    writers — the lock covers only the reap + rename + manifest bump,
    microseconds of work kept alive by the lock's heartbeat.  Crash-safe:
    data lands under a pid/host-stamped tmp name, renames to ``v=N``
    inside the lock, and only the final manifest swap makes it current —
    a crash leaves the previous version serving and at most one orphaned
    tmp (reaped by a later publisher once provably abandoned).  Version
    ids are assigned AT PUBLISH, so of two overlapping writers the one
    that reaches the lock first gets the lower version."""
    from cosmo_spark.operators.merge import _table_lock

    spark = df.sparkSession
    os.makedirs(table_path, exist_ok=True)
    tmp = _new_tmp(table_path)
    df.write.mode("overwrite").parquet(tmp)
    try:
        with _table_lock(spark, table_path.rstrip("/")) as guard:
            doc = _read_manifest(table_path)
            if doc["current"] is None:
                doc = _adopt_legacy_locked(table_path)
            return _publish_locked(table_path, tmp, doc, guard)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)   # contention must not leak
        raise


def read_current(spark: SparkSession, table_path: str) -> DataFrame:
    """Read the table's current state whether it is a versioned snapshot
    table (manifest present -> pinned current version) or a legacy flat
    parquet dir — the reader every merge-target consumer should use now
    that merges publish versions (runner, streaming ingest)."""
    if _read_manifest(table_path)["current"] is not None:
        return read_snapshot(spark, table_path)
    return spark.read.parquet(table_path)


def read_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read the current (default) or a pinned historical version.  Raises
    KeyError for a version the manifest does not carry (never published,
    or vacuumed away)."""
    doc = _read_manifest(table_path)
    if doc["current"] is None:
        raise KeyError(f"no published versions under {table_path}")
    v = doc["current"] if version is None else version
    if v not in {e["version"] for e in doc["versions"]}:
        raise KeyError(
            f"version {v} not available under {table_path} "
            f"(have {[e['version'] for e in doc['versions']]})"
        )
    return spark.read.parquet(os.path.join(table_path, f"v={v}"))


def snapshot_versions(table_path: str) -> list[int]:
    """Published, readable version ids (ascending)."""
    return [e["version"] for e in _read_manifest(table_path)["versions"]]


def vacuum_snapshots(
    spark: SparkSession, table_path: str, keep_last: int = 1
) -> list[int]:
    """Drop all but the newest ``keep_last`` versions; returns the ids
    removed.  Runs under the table's writer lock (review r8): vacuum is
    a manifest read-modify-write, and unlocked it could race a publish
    and write back a stale manifest missing the fresh version — whose
    directory the next publisher's orphan reaper would then DELETE.
    Manifest-first within the lock (a version disappears from the
    manifest BEFORE its files go), so a lock-free reader either pinned
    the version while it was still listed — the files are deleted after
    and an in-flight Spark job may fail loudly, the documented
    snapshot-retention trade every table format shares — or it no longer
    sees the version at all.  Never touches the current version."""
    from cosmo_spark.operators.merge import _table_lock

    with _table_lock(spark, table_path.rstrip("/")) as guard:
        doc = _read_manifest(table_path)
        return _vacuum_locked(table_path, doc, keep_last, guard)


def _vacuum_locked(
    table_path: str, doc: dict, keep_last: int, guard=None
) -> list[int]:
    """The in-lock half of vacuum — also called by merge_into_path's
    retention (operators/merge, r9 self-review #4: an unbounded
    per-micro-batch version history must be vacuumable in the same lock
    acquisition as the merge that created it)."""
    if len(doc["versions"]) <= keep_last:
        return []
    drop = doc["versions"][:-keep_last]
    doc["versions"] = doc["versions"][-keep_last:]
    if guard is not None:
        guard.verify()
    _write_manifest(table_path, doc)
    removed = []
    for e in drop:
        shutil.rmtree(
            os.path.join(table_path, f"v={e['version']}"),
            ignore_errors=True,
        )
        removed.append(e["version"])
    return removed


def purge_keys(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    tombstones: DataFrame,
) -> int:
    """Right-to-be-forgotten delete: publish a new version of the table
    with every row whose ``key_col`` appears in ``tombstones`` removed
    (left-anti join — the tombstone side broadcasts when small, which a
    deletion-request table always is).  Returns the new version id.

    Versioning is what makes this auditable AND completable:
    ``operators.merge.snapshot_diff(pre, post)`` is the per-key deletion
    audit a compliance pipeline records, and ``vacuum_snapshots`` with the
    pre-purge versions dropped is the step that makes the data PHYSICALLY
    gone (time travel deliberately keeps it until then — the retention
    window the regulation allows for rollback safety).

    Scale shape: one anti-join keyed on ``key_col`` (broadcast for
    request-sized tombstone sets) + one parquet rewrite — the unavoidable
    cost of physical deletion on immutable storage; everything else is
    manifest bookkeeping.
    """
    keys = tombstones.select(key_col).distinct()
    cur = read_current(spark, table_path)
    return write_snapshot(cur.join(keys, key_col, "left_anti"), table_path)
