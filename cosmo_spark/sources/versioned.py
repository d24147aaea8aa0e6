"""Versioned snapshot tables: immutable versions, time-travel reads, vacuum,
version-guarded merge and physical purge — one store for flat and
partitioned tables.

The no-dependency slice of a lakehouse table format, built from the
repo's existing primitives: each publish writes immutable data
directories and then atomically swaps a tiny JSON manifest naming them —
readers NEVER list the table directory (half-written or vacuumed data is
invisible until/after the manifest says so), and any historical version
stays readable until vacuumed (time travel;
``operators/merge.snapshot_diff`` between two versions is CDC).

Layout::

    table/
      _versions.json                 # {"current": N, "partition_col": c,
                                     #  "versions": [{"version": N,
                                     #    "parts": {key: rel_dir},
                                     #    "schema": <struct json>}]}
                                     # (flat: {"current": N, "versions":
                                     #  [{"version": N}]})
      v=N/                           # an unpartitioned table's version N
      parts/g-<pid>-<host>-<uuid8>/  # one immutable generation = one
                                     #   partition's rows, schema-complete
      v.tmp-...                      # in-flight or crashed stagers

Every version maps partition key -> data directory.  An unpartitioned
table (``partition_col`` None) is the one-partition case: its single key
is ``""`` and its data lives in ``v=N``, so every merge or purge rewrites
it whole with no probe job.  A partitioned table stages ONLY the
partitions a merge or purge touches as new generations and re-points
just those keys; untouched generations are shared, byte-identical,
across versions — the Delta/Iceberg shape (a log naming live files per
version; unchanged files shared).  A flat table's manifest entries carry
no ``parts`` map: ``{"version": N}`` reads as ``{"": "v=N"}``, the same
format the flat store has always written.

Partition keys are strings — ``CAST(partition_col AS STRING)``, with
NULL and the empty string mapped to the Hive default-partition sentinel —
computed identically on the staging write (``partitionBy`` on the derived
``__part`` column) and the affected-set probe, so the two never disagree.
The typed column rides IN the data files (the staging column is a
duplicate), so any version reads as ONE multi-path parquet scan.

Concurrency contract: every write runs under the single-writer lease lock
of operators/merge._table_lock — a second concurrent writer fails LOUDLY
with MergeContentionError instead of interleaving versions.  Readers are
lock-free: the manifest is a single file swapped with os.replace, so a
read sees the old version or the new one, never a mixture.  Vacuum and
orphan reaping are refcounted: a data directory is deleted only when no
surviving version references it.

A path with no manifest that holds raw parquet data (``part-*``,
``*.parquet``, ``_SUCCESS`` or ``<partition_col>=`` entries) is not the
store's: a merge or snapshot write refuses it with ValueError (a purge
finds no published table: KeyError) and leaves it untouched.

ref: cosmo/sms/ingest_sms.py:154-198 is the upsert this store backs; the
versioning/time-travel semantics are the lakehouse-format standard
(Armbrust et al., "Delta Lake", VLDB 2020).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import socket
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cosmo_spark.session import persisted

_MANIFEST = "_versions.json"

#: crashed writers' tmp dirs and generations older than this are reaped
#: even when their owner pid cannot be checked (another host); a LIVE
#: writer's tmp is always younger — parquet part files keep landing in it
_TMP_MAX_AGE_S = 24 * 3600

#: manifest key for a NULL partition value — the Hive sentinel, so the
#: staging write's directory name and the probe's key string agree
NULL_PART_KEY = "__HIVE_DEFAULT_PARTITION__"

_STAGE_COL = "__part"


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


def _parts(entry: dict) -> dict[str, str]:
    """A version's partition key -> data dir (relative to the table)."""
    if "parts" in entry:
        return entry["parts"]
    return {"": f"v={entry['version']}"}


def _entry(doc: dict, version: int | None, path: str) -> dict:
    """The manifest entry of ``version`` (default: current); KeyError for
    a version never published or vacuumed away."""
    if doc["current"] is None:
        raise KeyError(f"no published versions under {path}")
    v = doc["current"] if version is None else version
    for e in doc["versions"]:
        if e["version"] == v:
            return e
    raise KeyError(
        f"version {v} not available under {path} "
        f"(have {[e['version'] for e in doc['versions']]})"
    )


def _current_parts(doc: dict, path: str) -> dict[str, str]:
    """The current version's partition map; empty before the first
    publish."""
    return _parts(_entry(doc, None, path)) if doc["current"] else {}


def _scan(spark: SparkSession, path: str, rels) -> DataFrame | None:
    """One multi-path parquet scan of the data dirs ``rels``; None when
    there are none."""
    dirs = [os.path.join(path, rel) for rel in rels]
    return spark.read.parquet(*dirs) if dirs else None


def _key_expr(partition_col: str):
    s = F.col(partition_col).cast("string")
    # Spark writes NULL and "" to the same default partition directory
    return F.when(s != "", s).otherwise(F.lit(NULL_PART_KEY))


def _unescape_dirname(name: str) -> str:
    """Invert Spark/Hive partition-path escaping (%XX hex sequences).
    Unambiguous on Spark-produced names: any literal '%' in the value is
    itself escaped to %25 by the writer."""
    return re.sub(
        "%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
    )


def _abandoned(entry: str, full: str) -> bool:
    """True when a generation/tmp dir provably belongs to a dead writer:
    the owner pid embedded in the name is dead ON THIS HOST, or the dir
    went untouched past the abandonment window (cross-host case).  The
    host check is a substring test, not a capture group — hostnames may
    themselves contain dashes.  A false reap (pid reuse, cross-host pid
    alias) fails that writer's final rename LOUDLY — never silent loss."""
    from cosmo_spark.operators.merge import _pid_alive

    m = re.search(r"^(?:g|v\.tmp)-(\d+)-", entry)
    try:
        age = time.time() - os.path.getmtime(full)
    except OSError:
        return False
    owner_here = m is not None and f"-{socket.gethostname()}-" in entry
    if owner_here and not _pid_alive(int(m.group(1))):
        return True
    return age > _TMP_MAX_AGE_S


def _reap_orphans_locked(path: str, doc: dict, keep: str) -> None:
    """Remove crashed writers' leftovers.  Caller holds the table lock.

    - ``v=N`` dirs no manifest version references are dead: they are only
      ever created inside the lock (crash between rename and manifest
      write), so they are removed — also on a path with no manifest.
    - ``parts/g-*`` generations and ``v.tmp-*`` staging dirs may belong to
      a LIVE writer (``write_snapshot`` stages outside the lock), so an
      unreferenced one goes only once ``_abandoned``.
    """
    live = {rel for e in doc["versions"] for rel in _parts(e).values()}
    candidates = [
        (entry, entry) for entry in os.listdir(path)
        if entry.startswith(("v=", "v.tmp-"))
    ]
    pdir = os.path.join(path, "parts")
    if os.path.isdir(pdir):
        candidates += [(e, f"parts/{e}") for e in os.listdir(pdir)]
    for entry, rel in candidates:
        full = os.path.join(path, rel)
        if rel in live or full == keep or not os.path.isdir(full):
            continue
        if entry.startswith("v=") or _abandoned(entry, full):
            shutil.rmtree(full, ignore_errors=True)


def _claim_layout(path: str, doc: dict, partition_col: str | None) -> None:
    """Refuse a write the store cannot own: a path with no manifest that
    already holds raw parquet data (publishing would silently shadow it),
    or a ``partition_col`` that disagrees with the one the table was
    first published with.  Records ``partition_col`` on a new table."""
    if doc["current"] is not None:
        have = doc.get("partition_col")
        if have != partition_col:
            raise ValueError(
                f"{path} is partitioned by {have!r}, not {partition_col!r}"
            )
        return
    for e in os.listdir(path):
        if e.startswith("part-") or e.endswith(".parquet") or e == "_SUCCESS" \
                or (partition_col and e.startswith(f"{partition_col}=")):
            raise ValueError(
                f"{path} is a raw Hive-layout or flat parquet table with no "
                f"version manifest ({e!r}): publishing would shadow its "
                f"data — migrate it into a fresh versioned path first"
            )
    if partition_col is not None:   # absent means unpartitioned
        doc["partition_col"] = partition_col


def _new_tmp(table_path: str) -> str:
    return os.path.join(
        table_path,
        f"v.tmp-{os.getpid()}-{socket.gethostname()}-{uuid.uuid4().hex[:8]}",
    )


def _stage(df: DataFrame, tmp: str, partition_col: str | None) -> dict:
    """Distributed write of ``df`` into ``tmp``; returns {key: staged dir}.
    A partitioned stage splits on the derived string key — a DUPLICATE of
    the partition column, so the data files stay schema-complete when
    partitionBy drops it."""
    if partition_col is None:
        df.write.mode("overwrite").parquet(tmp)
        return {"": tmp}
    if _STAGE_COL in df.columns:
        raise ValueError(
            f"versioned partitioned tables reserve the {_STAGE_COL!r} "
            f"column name for staging"
        )
    (
        df.withColumn(_STAGE_COL, _key_expr(partition_col))
        .write.mode("overwrite")
        .partitionBy(_STAGE_COL)
        .parquet(tmp)
    )
    prefix = _STAGE_COL + "="
    return {
        _unescape_dirname(e[len(prefix):]): os.path.join(tmp, e)
        for e in os.listdir(tmp) if e.startswith(prefix)
    }


def _publish_locked(
    path: str,
    doc: dict,
    tmp: str,
    staged: dict[str, str],
    replaced: set[str],
    schema_json: str,
    guard=None,
) -> int:
    """The in-lock half of every publish: reap dead orphans, adopt each
    staged dir (``v=N`` for the unpartitioned key ``""``, a new
    ``parts/g-*`` generation otherwise), carry forward the current
    version's keys not in ``replaced``, bump the manifest.  A replaced key
    with NO staged dir disappears (a fully purged partition).

    ``guard`` (operators/merge LockGuard) provides FENCING: ownership is
    re-verified before the destructive reap and again immediately before
    the manifest commit, so a holder whose lease was broken while it was
    paused aborts LOUDLY here instead of committing over its successor's
    state."""
    if guard is not None:
        guard.verify()
    version = (doc["current"] or 0) + 1
    _reap_orphans_locked(path, doc, keep=tmp)
    parts = {
        k: rel for k, rel in _current_parts(doc, path).items()
        if k not in replaced
    }
    for key, src in staged.items():
        if key == "":
            rel = f"v={version}"
        else:
            os.makedirs(os.path.join(path, "parts"), exist_ok=True)
            rel = (
                f"parts/g-{os.getpid()}-{socket.gethostname()}-"
                f"{uuid.uuid4().hex[:8]}"
            )
        os.replace(src, os.path.join(path, rel))
        parts[key] = rel
    shutil.rmtree(tmp, ignore_errors=True)   # _SUCCESS and friends
    entry = {"version": version}
    if "" not in parts:   # partitioned; a flat entry stays bare (_parts)
        entry.update(parts=parts, schema=schema_json)
    doc["versions"].append(entry)
    doc["current"] = version
    if guard is not None:
        guard.verify()   # the commit point
    _write_manifest(path, doc)
    return version


def _stage_publish_locked(
    path: str, doc: dict, df: DataFrame, replaced: set[str], guard
) -> int:
    """Stage ``df`` and publish it — both inside the caller's lock, as a
    read-merge-write must be.  The tmp never outlives a failure."""
    tmp = _new_tmp(path)
    try:
        staged = _stage(df, tmp, doc.get("partition_col"))
        return _publish_locked(
            path, doc, tmp, staged, replaced, df.schema.json(), guard
        )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def write_snapshot(df: DataFrame, table_path: str) -> int:
    """Publish ``df`` as the (unpartitioned) table's next immutable
    version; returns the new version id.

    The expensive distributed parquet write runs OUTSIDE the table lock:
    a slow publish never serializes other writers — the lock covers only
    the reap + rename + manifest bump, microseconds of work kept alive by
    the lock's heartbeat.  Crash-safe: data lands under a pid/host-stamped
    tmp name, renames to ``v=N`` inside the lock, and only the final
    manifest swap makes it current — a crash leaves the previous version
    serving and at most one orphaned tmp (reaped by a later writer once
    provably abandoned).  Version ids are assigned AT PUBLISH, so of two
    overlapping writers the one that reaches the lock first gets the
    lower version."""
    from cosmo_spark.operators.merge import _table_lock

    os.makedirs(table_path, exist_ok=True)
    tmp = _new_tmp(table_path)
    try:
        staged = _stage(df, tmp, None)
        with _table_lock(df.sparkSession, table_path.rstrip("/")) as guard:
            doc = _read_manifest(table_path)
            _claim_layout(table_path, doc, None)
            return _publish_locked(
                table_path, doc, tmp, staged, {""}, df.schema.json(), guard
            )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)   # contention must not leak
        raise


def merge_into_path(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: str | Sequence[str],
    version_col: str,
    retain_versions: int | None = None,
    partition_col: str | None = None,
) -> int:
    """Apply ``operators/merge.merge_versioned`` against the table at
    ``path`` and publish the result as its next SNAPSHOT VERSION: every
    upsert is time-travelable — ``read_snapshot(path, pre)`` still returns
    the pre-merge rows, and ``snapshot_diff`` between the two versions is
    exactly the CDC of the version-guard-surviving changes.  Returns the
    published version id.

    Unpartitioned (``partition_col`` None), the merge reads the current
    version and rewrites it whole — no probe job, no persist.  Partitioned,
    it collects the batch's affected partition keys (bounded by the batch's
    partition spread — manifest-scale metadata, never the data), reads and
    rewrites ONLY those partitions, and shares every untouched generation
    with the previous version; an empty batch publishes nothing and
    returns the current id.  The first publish records ``partition_col``
    in the manifest; a later merge that disagrees raises ValueError.

    Single-writer: the whole read → merge → publish runs under the
    table's leased merge lock; a concurrent writer raises
    MergeContentionError instead of silently dropping this writer's rows,
    and the lock heartbeat keeps the lease alive for the distributed
    write.  ``retain_versions`` vacuums all but the newest N versions in
    the same lock acquisition — the bound a per-micro-batch caller
    (streaming ingest) needs; None keeps everything.
    """
    from cosmo_spark.operators.merge import _table_lock, merge_versioned

    os.makedirs(path, exist_ok=True)
    # a partitioned batch is read twice: the affected-key probe + the merge
    pinned = (updates,) if partition_col is not None else ()
    with persisted(*pinned), _table_lock(spark, path.rstrip("/")) as guard:
        doc = _read_manifest(path)
        _claim_layout(path, doc, partition_col)
        if partition_col is None:
            affected = {""}
        else:
            affected = {
                r.k for r in updates.select(
                    _key_expr(partition_col).alias("k")
                ).distinct().collect()
            }
            if not affected:
                return doc["current"] or 0
        parts = _current_parts(doc, path)
        current = _scan(
            spark, path, [parts[k] for k in affected if k in parts]
        )
        merged = merge_versioned(current, updates, key_cols, version_col)
        version = _stage_publish_locked(path, doc, merged, affected, guard)
        if retain_versions is not None:
            _vacuum_locked(path, doc, retain_versions, guard)
        return version


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    partitions=None,
) -> DataFrame:
    """Read the current (default) or a pinned historical version as ONE
    multi-path parquet scan.  ``partitions`` (iterable of partition
    VALUES, or None for all) prunes a partitioned table at the MANIFEST —
    no directory listing, no union plan.  Raises KeyError for a version
    the manifest does not carry (never published, or vacuumed away)."""
    entry = _entry(_read_manifest(table_path), version, table_path)
    parts = _parts(entry)
    if partitions is not None:
        want = {
            NULL_PART_KEY if p is None or str(p) == "" else str(p)
            for p in partitions
        }
        parts = {k: rel for k, rel in parts.items() if k in want}
    df = _scan(spark, table_path, parts.values())
    if df is None:
        from pyspark.sql.types import StructType

        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(entry["schema"]))
        )
    return df


def read_current(spark: SparkSession, table_path: str) -> DataFrame:
    """The table's current state — the reader every merge-target consumer
    uses (runner, streaming ingest): a plain ``spark.read.parquet`` of the
    table root would partition-discover the version directories."""
    return read_snapshot(spark, table_path)


def snapshot_versions(table_path: str) -> list[int]:
    """Published, readable version ids (ascending); empty when the path
    holds no published table."""
    return [e["version"] for e in _read_manifest(table_path)["versions"]]


def partition_keys(table_path: str, version: int | None = None) -> list[str]:
    """The partition keys (string form) live in a version — sorted."""
    doc = _read_manifest(table_path)
    return sorted(_parts(_entry(doc, version, table_path)))


def vacuum_snapshots(
    spark: SparkSession, table_path: str, keep_last: int = 1
) -> list[int]:
    """Drop all but the newest ``keep_last`` versions; returns the ids
    removed.  Runs under the table's writer lock: vacuum is a manifest
    read-modify-write, and unlocked it could race a publish and write back
    a stale manifest missing the fresh version — whose data the next
    writer's orphan reaper would then DELETE.  Never touches the current
    version."""
    from cosmo_spark.operators.merge import _table_lock

    with _table_lock(spark, table_path.rstrip("/")) as guard:
        doc = _read_manifest(table_path)
        return _vacuum_locked(table_path, doc, keep_last, guard)


def _vacuum_locked(
    table_path: str, doc: dict, keep_last: int, guard=None
) -> list[int]:
    """The in-lock half of vacuum — also merge_into_path's retention, so a
    per-micro-batch history is bounded in the same lock acquisition as the
    merge that grew it.  Manifest-first: a version disappears from the
    manifest BEFORE its files go, so a lock-free reader either pinned it
    while still listed — an in-flight Spark job may then fail loudly, the
    snapshot-retention trade every table format shares — or no longer
    sees it.  REFCOUNTED: a data dir is deleted only when no surviving
    version references it (shared generations stay)."""
    if len(doc["versions"]) <= keep_last:
        return []
    drop = doc["versions"][:-keep_last]
    doc["versions"] = doc["versions"][-keep_last:]
    if guard is not None:
        guard.verify()
    _write_manifest(table_path, doc)
    live = {rel for e in doc["versions"] for rel in _parts(e).values()}
    for e in drop:
        for rel in _parts(e).values():
            if rel not in live:
                shutil.rmtree(os.path.join(table_path, rel), ignore_errors=True)
    return [e["version"] for e in drop]


def purge_keys(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    tombstones: DataFrame,
) -> int:
    """Right-to-be-forgotten delete: publish a new version with every row
    whose ``key_col`` appears in ``tombstones`` removed (left-anti join).
    Returns the new version id.  An unpartitioned table is rewritten
    whole; a partitioned one (its partition column read from the
    manifest) rewrites ONLY the partitions holding tombstoned keys, a
    partition whose every row is purged disappears, and a purge that
    touches no partition publishes nothing and returns the current id.

    Versioning is what makes this auditable AND completable:
    ``operators.merge.snapshot_diff(pre, post)`` is the per-key deletion
    audit a compliance pipeline records, and ``vacuum_snapshots`` with the
    pre-purge versions dropped is the step that makes the data PHYSICALLY
    gone (time travel deliberately keeps it until then — the retention
    window the regulation allows for rollback safety).
    """
    from cosmo_spark.operators.merge import _table_lock

    keys = tombstones.select(key_col).distinct()
    with _table_lock(spark, table_path.rstrip("/")) as guard:
        doc = _read_manifest(table_path)
        parts = _parts(_entry(doc, None, table_path))
        pcol = doc.get("partition_col")
        affected = set(parts)
        if pcol is not None:
            whole = _scan(spark, table_path, parts.values())
            # column-pruned probe: only (key, partition) leave the scan
            affected = set() if whole is None else {
                r.k
                for r in whole.join(keys, key_col, "left_semi")
                .select(_key_expr(pcol).alias("k"))
                .distinct()
                .collect()
            }
            if not affected:
                return doc["current"]
        kept = _scan(spark, table_path, [parts[k] for k in affected]).join(
            keys, key_col, "left_anti"
        )
        return _stage_publish_locked(table_path, doc, kept, affected, guard)
