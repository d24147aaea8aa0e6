"""Single-writer contract for the no-transaction-log merge (review r7 #4).

Two concurrent merge writers that both read the same base and then both
rewrite-and-swap would each publish a table missing the other's rows — a
SILENT lost update.  The table merge lock must turn that schedule into
exactly one loud MergeContentionError with zero row loss: the loser
retries after the winner's swap and both sides' updates land.
"""

from __future__ import annotations

import os

import pytest

from cosmo_spark.operators.merge import (
    MergeContentionError,
    _table_lock,
    merge_into_path,
)
from cosmo_spark.sources.versioned import read_snapshot


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k STRING, ver INT, payload STRING")


def _state(spark, path):
    from cosmo_spark.sources.versioned import read_current

    return {r.k: (r.ver, r.payload) for r in read_current(spark, path).collect()}


def test_contending_merge_fails_loud_and_table_unchanged(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge_into_path(spark, path, _frame(spark, [("k1", 1, "a")]), "k", "ver")
    before = _state(spark, path)

    with _table_lock(spark, path):  # writer A mid-critical-section
        with pytest.raises(MergeContentionError, match="merge lock held"):
            merge_into_path(
                spark, path, _frame(spark, [("k2", 1, "b")]), "k", "ver"
            )
    assert _state(spark, path) == before, "loser must not touch the table"
    assert not os.path.exists(path + ".__merge_lock"), (
        "lock must release when the holder exits"
    )
    # after release the loser's retry succeeds
    merge_into_path(spark, path, _frame(spark, [("k2", 1, "b")]), "k", "ver")
    assert _state(spark, path) == {"k1": (1, "a"), "k2": (1, "b")}


def test_interleaved_swap_schedule_loses_no_rows(spark, tmp_path):
    """Replay the exact lost-update interleaving: writer B arrives while
    writer A is between its read and its publish.  Required outcome: one
    MergeContentionError, then (after B's retry) BOTH updates present."""
    import cosmo_spark.sources.versioned as versioned_mod

    path = str(tmp_path / "tbl")
    merge_into_path(spark, path, _frame(spark, [("k1", 1, "base")]), "k", "ver")

    real_publish = versioned_mod._publish_locked
    contention: list[Exception] = []

    def publish_with_concurrent_writer(table_path, *args):
        # writer A has read the base and is about to publish; writer B's
        # whole merge attempt happens NOW — the schedule that silently
        # dropped B's rows pre-lock
        try:
            merge_into_path(
                spark, table_path,
                _frame(spark, [("kB", 1, "from-B")]), "k", "ver",
            )
        except MergeContentionError as e:
            contention.append(e)
        return real_publish(table_path, *args)

    versioned_mod._publish_locked = publish_with_concurrent_writer
    try:
        merge_into_path(
            spark, path, _frame(spark, [("kA", 2, "from-A")]), "k", "ver"
        )
    finally:
        versioned_mod._publish_locked = real_publish

    assert len(contention) == 1, "B must fail loudly exactly once"
    # B retries after A completed — nothing lost from either writer
    merge_into_path(
        spark, path, _frame(spark, [("kB", 1, "from-B")]), "k", "ver"
    )
    assert _state(spark, path) == {
        "k1": (1, "base"), "kA": (2, "from-A"), "kB": (1, "from-B")
    }
    assert not os.path.exists(path + ".__merge_lock")


def test_partitioned_merge_honors_the_same_lock(spark, tmp_path):
    path = str(tmp_path / "ptbl")
    base = spark.createDataFrame(
        [("k1", 1, "2024-01", "a")],
        "k STRING, ver INT, month STRING, payload STRING",
    )
    merge_into_path(spark, path, base, "k", "ver", partition_col="month")
    upd = spark.createDataFrame(
        [("k2", 1, "2024-01", "b")],
        "k STRING, ver INT, month STRING, payload STRING",
    )
    with _table_lock(spark, path):
        with pytest.raises(MergeContentionError):
            merge_into_path(
                spark, path, upd, "k", "ver", partition_col="month"
            )
    merge_into_path(spark, path, upd, "k", "ver", partition_col="month")
    assert {r.k for r in read_snapshot(spark, path).collect()} == {"k1", "k2"}


def test_expired_lease_recovers_without_operator(spark, tmp_path):
    """A crashed holder's lock self-expires (round-9 lease): once the
    heartbeat mtime is older than the TTL, the next contender breaks the
    lock loudly and proceeds — no human deletes files.  Before expiry the
    contender still fails loud, and the message carries the lease
    diagnostics an operator needs."""
    path = str(tmp_path / "tbl")
    merge_into_path(spark, path, _frame(spark, [("k1", 1, "a")]), "k", "ver")
    lock = path + ".__merge_lock"
    open(lock, "w").close()   # crashed holder: payload unreadable
    with pytest.raises(MergeContentionError, match="lease TTL"):
        merge_into_path(
            spark, path, _frame(spark, [("k2", 1, "b")]), "k", "ver"
        )
    # heartbeat goes stale past the TTL -> self-recovery, loud takeover
    import time as _time

    stale = _time.time() - 3600
    os.utime(lock, (stale, stale))
    merge_into_path(spark, path, _frame(spark, [("k2", 1, "b")]), "k", "ver")
    assert _state(spark, path) == {"k1": (1, "a"), "k2": (1, "b")}
    assert not os.path.exists(lock)


def test_dead_holder_pid_breaks_immediately(spark, tmp_path):
    """A lock whose recorded owner pid is provably dead on this host is
    broken without waiting out the TTL."""
    import json
    import struct
    import subprocess

    path = str(tmp_path / "tbl")
    merge_into_path(spark, path, _frame(spark, [("k1", 1, "a")]), "k", "ver")
    dead_pid = subprocess.run(
        ["sh", "-c", "echo $$"], capture_output=True, text=True
    ).stdout.strip()
    payload = json.dumps({
        "pid": int(dead_pid), "host": __import__("socket").gethostname(),
        "acquired_unix": 0,
    }).encode()
    with open(path + ".__merge_lock", "wb") as f:   # writeUTF wire format
        f.write(struct.pack(">H", len(payload)) + payload)
    # fresh mtime — only the dead-pid evidence allows the break
    merge_into_path(spark, path, _frame(spark, [("k2", 1, "b")]), "k", "ver")
    assert _state(spark, path) == {"k1": (1, "a"), "k2": (1, "b")}


def test_live_holder_contention_names_owner(spark, tmp_path):
    """Contention against a live (heartbeating) holder reports who holds
    the lease, and two contenders racing the SAME expired lock cannot
    both win (the tombstone-rename break admits exactly one)."""
    path = str(tmp_path / "tbl")
    merge_into_path(spark, path, _frame(spark, [("k1", 1, "a")]), "k", "ver")
    with _table_lock(spark, path):
        with pytest.raises(MergeContentionError, match=f"pid {os.getpid()}"):
            merge_into_path(
                spark, path, _frame(spark, [("k2", 1, "b")]), "k", "ver"
            )


def test_no_double_break_under_racing_contenders(spark, tmp_path):
    """Two threads racing one expired lock: exactly one acquires; the
    loser raises instead of double-breaking the winner's fresh lock."""
    import threading
    import time as _time

    path = str(tmp_path / "tbl")
    os.makedirs(path, exist_ok=True)
    lock = path + ".__merge_lock"
    open(lock, "w").close()
    stale = _time.time() - 3600
    os.utime(lock, (stale, stale))

    inside = threading.Barrier(2, timeout=30)
    results: list[str] = []
    lock_results = threading.Lock()

    def contend():
        try:
            with _table_lock(spark, path):
                # hold until BOTH threads have finished their attempt —
                # the loser must fail against a HELD lock, not sneak in
                # after release
                try:
                    inside.wait()
                except threading.BrokenBarrierError:
                    pass
                with lock_results:
                    results.append("acquired")
        except MergeContentionError:
            with lock_results:
                results.append("contention")
            try:
                inside.wait()   # release the winner
            except threading.BrokenBarrierError:
                pass
        except Exception as e:   # surface the real failure in the assert
            with lock_results:
                results.append(f"error: {type(e).__name__}: {e}")
            try:
                inside.wait()
            except threading.BrokenBarrierError:
                pass

    ts = [threading.Thread(target=contend) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=60)
    assert sorted(results) == ["acquired", "contention"], results
    assert not os.path.exists(lock)
