"""Versioned snapshot tables (sources/versioned): immutable versions,
time-travel reads, manifest-gated visibility, single-writer publishing,
vacuum retention, and CDC between versions via snapshot_diff."""

from __future__ import annotations

import os

import pytest

from cosmo_spark.operators.merge import MergeContentionError, _table_lock
from cosmo_spark.operators.merge import snapshot_diff
from cosmo_spark.sources.versioned import (
    read_snapshot,
    snapshot_versions,
    vacuum_snapshots,
    write_snapshot,
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k STRING, val INT")


def _state(spark, path, version=None):
    return {
        r.k: r.val for r in read_snapshot(spark, path, version).collect()
    }


def test_time_travel_reads_and_version_log(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1 = write_snapshot(_frame(spark, [("a", 1), ("b", 1)]), path)
    v2 = write_snapshot(_frame(spark, [("a", 2), ("c", 1)]), path)
    assert (v1, v2) == (1, 2)
    assert snapshot_versions(path) == [1, 2]
    assert _state(spark, path) == {"a": 2, "c": 1}          # current
    assert _state(spark, path, 1) == {"a": 1, "b": 1}       # pinned
    with pytest.raises(KeyError):
        read_snapshot(spark, path, 99)

    # CDC between two versions is the existing snapshot_diff composition
    changes = {
        r.k: r.change_type
        for r in snapshot_diff(
            read_snapshot(spark, path, 1), read_snapshot(spark, path, 2), "k"
        ).collect()
    }
    assert changes == {"a": "update", "b": "delete", "c": "insert"}


def test_publish_is_single_writer_and_crash_safe(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_snapshot(_frame(spark, [("a", 1)]), path)

    # concurrent publisher fails loudly under the shared merge lock
    with _table_lock(spark, path):
        with pytest.raises(MergeContentionError):
            write_snapshot(_frame(spark, [("a", 2)]), path)
    assert _state(spark, path) == {"a": 1}

    # a crashed publisher's orphan (data dir present, never in the
    # manifest) is invisible to readers and reaped by the next publish
    orphan = os.path.join(path, "v=2")
    os.makedirs(orphan)
    open(os.path.join(orphan, "garbage.parquet"), "w").close()
    assert snapshot_versions(path) == [1]
    assert _state(spark, path) == {"a": 1}
    v = write_snapshot(_frame(spark, [("a", 3)]), path)
    assert v == 2 and _state(spark, path) == {"a": 3}
    assert _state(spark, path, 2) == {"a": 3}


def test_vacuum_keeps_current_and_forgets_history(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for i in range(1, 5):
        write_snapshot(_frame(spark, [("a", i)]), path)
    assert snapshot_versions(path) == [1, 2, 3, 4]
    removed = vacuum_snapshots(spark, path, keep_last=2)
    assert removed == [1, 2]
    assert snapshot_versions(path) == [3, 4]
    assert _state(spark, path) == {"a": 4}
    assert _state(spark, path, 3) == {"a": 3}
    with pytest.raises(KeyError):
        read_snapshot(spark, path, 1)
    assert not os.path.isdir(os.path.join(path, "v=1"))
    # vacuum below the floor is a no-op
    assert vacuum_snapshots(spark, path, keep_last=5) == []
    # vacuum respects the writer lock: contention is loud
    with _table_lock(spark, path):
        with pytest.raises(MergeContentionError):
            vacuum_snapshots(spark, path, keep_last=1)


def test_merge_publishes_time_travelable_versions(spark, tmp_path):
    """Round-9 #2 gate: a version-guarded merge publishes a snapshot —
    the pre-merge state stays readable, and snapshot_diff(pre, post) is
    exactly the version-guard-surviving changes."""
    from cosmo_spark.operators.merge import merge_into_path

    def mframe(rows):
        return spark.createDataFrame(rows, "k STRING, ver INT, payload STRING")

    path = str(tmp_path / "tbl")
    v1 = merge_into_path(spark, path, mframe(
        [("a", 1, "a1"), ("b", 1, "b1"), ("c", 1, "c1")]), "k", "ver")
    v2 = merge_into_path(spark, path, mframe(
        [("a", 2, "a2"),      # newer version: survives the guard
         ("b", 1, "bX"),      # equal version: no-op (existing row wins)
         ("d", 1, "d1")]),    # unmatched key: insert
        "k", "ver")
    assert (v1, v2) == (1, 2)

    pre = {r.k: r.payload for r in read_snapshot(spark, path, 1).collect()}
    post = {r.k: r.payload for r in read_snapshot(spark, path, 2).collect()}
    assert pre == {"a": "a1", "b": "b1", "c": "c1"}, "pre-merge state intact"
    assert post == {"a": "a2", "b": "b1", "c": "c1", "d": "d1"}

    changes = {
        r.k: r.change_type
        for r in snapshot_diff(
            read_snapshot(spark, path, 1), read_snapshot(spark, path, 2), "k"
        ).collect()
    }
    assert changes == {"a": "update", "d": "insert"}, (
        "CDC must equal exactly the guard-surviving updates"
    )


def test_merge_refuses_manifestless_flat_table_untouched(spark, tmp_path):
    """A flat parquet dir with no version manifest is not the store's: a
    merge and a snapshot write refuse it with ValueError, a purge finds no
    published table, and every entry stays as it was — no manifest
    appears, nothing moves."""
    from cosmo_spark.operators.merge import merge_into_path
    from cosmo_spark.sources.versioned import purge_keys

    path = str(tmp_path / "flat")
    old = spark.createDataFrame(
        [("a", 1, "old")], "k STRING, ver INT, payload STRING"
    )
    old.write.parquet(path)
    before = sorted(os.listdir(path))

    with pytest.raises(ValueError, match="no version manifest"):
        merge_into_path(spark, path, old, "k", "ver")
    with pytest.raises(ValueError, match="no version manifest"):
        write_snapshot(old, path)
    with pytest.raises(KeyError):
        purge_keys(spark, path, "k", old)
    assert sorted(os.listdir(path)) == before
    assert snapshot_versions(path) == []
    assert {r.payload for r in spark.read.parquet(path).collect()} == {"old"}


def test_merge_refuses_partition_col_mismatch(spark, tmp_path):
    """The manifest records the partition column at the first publish; a
    merge or snapshot write that disagrees raises and publishes nothing."""
    from cosmo_spark.operators.merge import merge_into_path

    def mframe(rows):
        return spark.createDataFrame(
            rows, "k STRING, ver INT, month STRING"
        )

    flat = str(tmp_path / "flat")
    merge_into_path(spark, flat, mframe([("a", 1, "2024-01")]), "k", "ver")
    with pytest.raises(ValueError, match="partitioned by None"):
        merge_into_path(spark, flat, mframe([("a", 2, "2024-01")]), "k",
                        "ver", partition_col="month")

    parted = str(tmp_path / "parted")
    merge_into_path(spark, parted, mframe([("a", 1, "2024-01")]), "k", "ver",
                    partition_col="month")
    with pytest.raises(ValueError, match="partitioned by 'month'"):
        merge_into_path(spark, parted, mframe([("a", 2, "2024-01")]), "k",
                        "ver")
    with pytest.raises(ValueError, match="partitioned by 'month'"):
        write_snapshot(mframe([("a", 2, "2024-01")]), parted)
    assert snapshot_versions(flat) == [1] and snapshot_versions(parted) == [1]
    assert {r.ver for r in read_snapshot(spark, parted).collect()} == {1}


def test_slow_publish_blocks_no_reader_and_no_rival_publisher(spark, tmp_path):
    """Round-9 #6 gate: the distributed data write happens OUTSIDE the
    table lock, so while one publisher's write crawls, a reader AND a
    second publisher both proceed; the slow publisher then gets the next
    version at its (later) publish instant."""
    import threading

    path = str(tmp_path / "tbl")
    write_snapshot(_frame(spark, [("a", 1)]), path)

    writing = threading.Event()
    release = threading.Event()

    class SlowDF:
        """Proxy whose .write stalls until released — simulates a
        multi-minute distributed write."""

        def __init__(self, df):
            self._df = df

        @property
        def write(self):
            writing.set()
            assert release.wait(60), "test deadlock"
            return self._df.write

        def __getattr__(self, name):   # sparkSession etc.
            return getattr(self._df, name)

    out: dict = {}

    def slow_publish():
        out["slow"] = write_snapshot(SlowDF(_frame(spark, [("a", 99)])), path)

    t = threading.Thread(target=slow_publish)
    t.start()
    assert writing.wait(60)
    # while the slow write is (conceptually) running: reader unblocked
    assert _state(spark, path) == {"a": 1}
    # ...and a rival publisher lands a full version, no contention
    assert write_snapshot(_frame(spark, [("a", 2)]), path) == 2
    release.set()
    t.join(60)
    assert out["slow"] == 3
    assert _state(spark, path, 2) == {"a": 2}
    assert _state(spark, path, 3) == {"a": 99}


def test_broken_lease_holder_aborts_at_commit(spark, tmp_path):
    """r9 self-review #2/#3 fencing: a holder whose lease was broken
    while it ran must abort LOUDLY at the commit verify, and its release
    must not delete the successor's lock."""
    import os

    from cosmo_spark.operators.merge import (
        MergeContentionError,
        _table_lock,
    )

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    with pytest.raises(MergeContentionError, match="lost the merge lease"):
        with _table_lock(spark, path) as guard:
            # simulate a successor breaking our lease and taking over
            lock = path + ".__merge_lock"
            os.remove(lock)
            import json as _json
            import struct as _struct

            body = _json.dumps({"pid": 1, "host": "other", "token": "X"}).encode()
            with open(lock, "wb") as f:
                f.write(_struct.pack(">H", len(body)) + body)
            guard.verify()
    # owner-checked release: the successor's lock must survive our exit
    assert os.path.exists(path + ".__merge_lock"), (
        "release must not delete a lock we no longer own"
    )
    os.remove(path + ".__merge_lock")


def test_merge_retention_bounds_history(spark, tmp_path):
    """r9 self-review #4: retain_versions vacuums in the same lock
    acquisition, so a per-micro-batch merge caller keeps bounded state."""
    from cosmo_spark.operators.merge import merge_into_path

    def mframe(rows):
        return spark.createDataFrame(rows, "k STRING, ver INT, payload STRING")

    path = str(tmp_path / "tbl")
    for i in range(1, 6):
        merge_into_path(spark, path, mframe([(f"k{i}", 1, "x")]), "k", "ver",
                        retain_versions=2)
    assert snapshot_versions(path) == [4, 5]
    assert {r.k for r in read_snapshot(spark, path).collect()} \
        == {"k1", "k2", "k3", "k4", "k5"}


def test_purge_keys_deletes_only_tombstoned_and_vacuum_erases_bytes(
    spark, tmp_path
):
    """The GDPR contract behind q151: purge removes exactly the tombstoned
    keys' rows (time travel keeps the pre-purge version readable), and a
    subsequent vacuum makes the deletion PHYSICAL — no parquet file under
    the table still carries a purged user's bytes."""
    import glob

    from cosmo_spark.sources.versioned import (
        purge_keys,
        read_snapshot,
        vacuum_snapshots,
        write_snapshot,
    )

    path = str(tmp_path / "events")
    rows = [(i, i % 5, f"payload-{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, p string")
    v1 = write_snapshot(df, path)
    tomb = spark.createDataFrame([(0,), (3,)], "user_id long")
    v2 = purge_keys(spark, path, "user_id", tomb)
    assert v2 == v1 + 1

    cur = read_snapshot(spark, path).collect()
    assert {r.user_id for r in cur} == {1, 2, 4}
    assert len(cur) == 30
    # time travel: the pre-purge version still serves every row
    assert read_snapshot(spark, path, v1).count() == 50

    vacuum_snapshots(spark, path, keep_last=1)
    # the purged users' bytes are gone from EVERY parquet file on disk
    leftovers = spark.read.parquet(
        *glob.glob(f"{path}/v=*/*.parquet")
    ).filter("user_id in (0, 3)")
    assert leftovers.count() == 0
    import pytest as _pytest

    with _pytest.raises(KeyError):
        read_snapshot(spark, path, v1)


def test_flat_manifest_format_reads_and_merges(spark, tmp_path):
    """A flat table's manifest entries carry no ``parts`` map — the format
    the flat store has always written — so a table published by earlier
    code reads each entry as ``{"": "v=N"}``, and a merge on top of it
    keeps the same manifest and ``v=N`` layout."""
    import json

    from cosmo_spark.operators.merge import merge_into_path

    path = str(tmp_path / "tbl")
    mframe = "k STRING, ver INT, payload STRING"
    spark.createDataFrame([("a", 1, "a1")], mframe).write.parquet(
        os.path.join(path, "v=1")
    )
    with open(os.path.join(path, "_versions.json"), "w") as f:
        json.dump({"current": 1, "versions": [{"version": 1}]}, f)
    assert {r.payload for r in read_snapshot(spark, path).collect()} == {"a1"}
    v = merge_into_path(
        spark, path, spark.createDataFrame([("b", 1, "b1")], mframe),
        "k", "ver", retain_versions=1,
    )
    assert v == 2 and snapshot_versions(path) == [2]
    assert {r.k for r in read_snapshot(spark, path).collect()} == {"a", "b"}
    assert sorted(e for e in os.listdir(path) if e.startswith("v")) == ["v=2"]
    with open(os.path.join(path, "_versions.json")) as f:
        assert json.load(f) == {"current": 2, "versions": [{"version": 2}]}
