"""Partition-pruned merge into the versioned store's partitioned layout
(``merge_into_path(..., partition_col=)``): only affected
partitions are rewritten, untouched generations are shared across
versions, and a raw Hive-layout directory is refused loudly."""

from __future__ import annotations

import json
import os

import pytest

from cosmo_spark.operators.merge import merge_into_path
from cosmo_spark.sources.versioned import read_snapshot, snapshot_versions


def part_files(path, part):
    """{filename: mtime} for partition ``part``'s CURRENT data files —
    the manifest-current generation dir."""
    doc = json.load(open(os.path.join(path, "_versions.json")))
    cur = [v for v in doc["versions"] if v["version"] == doc["current"]][0]
    d = os.path.join(path, cur["parts"][part])
    return {f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d) if f.endswith(".parquet")}


def merge(spark, path, df, retain_versions=1):
    return merge_into_path(
        spark, path, df, "k", "ver", retain_versions=retain_versions,
        partition_col="month",
    )


def test_merge_touches_only_affected_partitions(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("k1", 1, "2024-01", "a"), ("k2", 1, "2024-01", "b"),
         ("k3", 1, "2024-02", "c"), ("k4", 1, "2024-02", "d")],
        "k STRING, ver INT, month STRING, payload STRING",
    )
    merge(spark, path, base)
    before_jan = part_files(path, "2024-01")
    before_feb = part_files(path, "2024-02")

    updates = spark.createDataFrame(
        [("k1", 2, "2024-01", "a2"),      # supersedes
         ("k9", 1, "2024-01", "new"),     # inserts
         ("k1", 0, "2024-01", "stale")],  # loses to ver 2 in same batch
        "k STRING, ver INT, month STRING, payload STRING",
    )
    merge(spark, path, updates)

    state = {r.k: (r.ver, r.payload, r.month)
             for r in read_snapshot(spark, path).collect()}
    assert state == {
        "k1": (2, "a2", "2024-01"),
        "k2": (1, "b", "2024-01"),
        "k3": (1, "c", "2024-02"),
        "k4": (1, "d", "2024-02"),
        "k9": (1, "new", "2024-01"),
    }
    # February partition: identical files, untouched mtimes (the
    # generation dir is SHARED with the previous version, not copied)
    assert part_files(path, "2024-02") == before_feb
    # January partition was rewritten
    assert part_files(path, "2024-01") != before_jan


def test_merge_empty_updates_noop(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("k1", 1, "2024-01", "a")],
        "k STRING, ver INT, month STRING, payload STRING",
    )
    merge(spark, path, base)
    snapshot = part_files(path, "2024-01")
    empty = base.limit(0)
    merge(spark, path, empty)
    assert part_files(path, "2024-01") == snapshot


def test_merge_many_partitions_rewrites_one(spark, tmp_path):
    """Pruning at a higher partition count: 40 monthly partitions, one
    update month — only that partition's files change: the 39 untouched
    generation dirs carry over into the new manifest version."""
    path = str(tmp_path / "tbl40")
    base = spark.createDataFrame(
        [(f"k{i}", 1, f"2020-{(i % 40) + 1:02d}", "x") for i in range(200)],
        "k STRING, ver INT, month STRING, payload STRING",
    )
    merge(spark, path, base)
    months = sorted({r.month for r in base.collect()})
    snapshots = {m: part_files(path, m) for m in months}

    updates = spark.createDataFrame(
        [("k7", 2, "2020-08", "upd")],
        "k STRING, ver INT, month STRING, payload STRING",
    )
    merge(spark, path, updates)

    for m, snap in snapshots.items():
        if m == "2020-08":
            assert part_files(path, m) != snap
        else:
            assert part_files(path, m) == snap
    row = {r.k: r.ver
           for r in read_snapshot(spark, path)
           .filter("month = '2020-08'").collect()}
    assert row["k7"] == 2


def test_default_layout_retains_single_version(spark, tmp_path):
    """retain_versions=1 keeps storage at in-place cost: after a second
    merge only the current version survives, and its shared generations
    are intact."""
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("k1", 1, "2024-01", "a"), ("k3", 1, "2024-02", "c")],
        "k STRING, ver INT, month STRING, payload STRING",
    )
    v1 = merge(spark, path, base)
    upd = spark.createDataFrame(
        [("k1", 2, "2024-01", "a2")],
        "k STRING, ver INT, month STRING, payload STRING",
    )
    v2 = merge(spark, path, upd)
    assert (v1, v2) == (1, 2)
    assert snapshot_versions(path) == [2]
    state = {r.k: r.ver for r in read_snapshot(spark, path).collect()}
    assert state == {"k1": 2, "k3": 1}
    # history on demand: retain_versions=None keeps both
    path2 = str(tmp_path / "tbl_hist")
    merge(spark, path2, base, retain_versions=None)
    merge(spark, path2, upd, retain_versions=None)
    assert snapshot_versions(path2) == [1, 2]
    old = {r.k: r.ver
           for r in read_snapshot(spark, path2, version=1).collect()}
    assert old == {"k1": 1, "k3": 1}


def test_layout_mismatch_fails_loud(spark, tmp_path):
    """A raw Hive-layout directory (``month=...`` dirs, no version
    manifest) is an external table: merging into it raises instead of
    publishing a manifest that silently shadows its data, and leaves the
    directory as it was."""
    df = spark.createDataFrame(
        [("k1", 1, "2024-01", "a")],
        "k STRING, ver INT, month STRING, payload STRING",
    )
    hive = str(tmp_path / "hive_tbl")
    df.write.partitionBy("month").parquet(hive)
    before = sorted(os.listdir(hive))
    with pytest.raises(ValueError, match="raw Hive-layout"):
        merge(spark, hive, df)
    assert sorted(os.listdir(hive)) == before
    assert not os.path.exists(os.path.join(hive, "_versions.json"))
