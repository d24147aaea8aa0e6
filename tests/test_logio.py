"""Scheme-portability gates for the streaming log family (r12 verdict #2).

Every protocol here runs twice conceptually: bare local paths take the
pure-os fast path, and ``file:`` URIs force the HADOOP FileSystem branch —
the exact code an hdfs:// or object-store path would execute, minus the
network.  The object-store-specific commit points (create-overwrite PUT,
publish marker, copy-based replace) are driven by forcing
``rename_is_atomic`` to answer False over a real local Hadoop FS.
"""

from __future__ import annotations

import json
import os

import pytest

from cosmo_spark.streaming import logio


# --------------------------------------------------------------------- #
# pure-unit: scheme parsing                                              #
# --------------------------------------------------------------------- #


def test_scheme_parsing():
    assert logio.scheme_of("/a/b") == ""
    assert logio.scheme_of("rel/path") == ""
    assert logio.scheme_of("file:/a/b") == "file"
    assert logio.scheme_of("file:///a/b") == "file"
    assert logio.scheme_of("hdfs://nn:8020/a") == "hdfs"
    assert logio.scheme_of("s3a://bucket/key") == "s3a"
    assert logio.scheme_of("/dir/with:colon") == ""  # colon after slash

    assert logio.local_path("/a/b") == "/a/b"
    assert logio.local_path("file:/a/b") == "/a/b"
    assert logio.local_path("file:///a/b") == "/a/b"
    assert logio.local_path("s3a://b/k") is None
    assert logio.local_path("hdfs://nn/a") is None

    assert logio.rename_is_atomic("/a") and logio.rename_is_atomic("hdfs://x/a")
    for s in ("s3a", "gs", "abfs", "wasbs", "oss"):
        assert not logio.rename_is_atomic(f"{s}://b/k")


# --------------------------------------------------------------------- #
# file: URI — the Hadoop FileSystem branch over a real local FS          #
# --------------------------------------------------------------------- #


def test_logio_ops_through_file_scheme(spark, tmp_path):
    base = str(tmp_path)
    uri = "file://" + base

    # atomic manifest swap: old-or-new, overwrite allowed
    m = uri + "/m.json"
    logio.write_json_atomic(m, {"phase": "prepared"})
    assert logio.read_json(m) == {"phase": "prepared"}
    logio.write_json_atomic(m, {"phase": "committed"})
    assert logio.read_json(m) == {"phase": "committed"}
    assert logio.read_text(m) == json.dumps({"phase": "committed"})

    # staged write + replace_file (the _write_manifest shape)
    stage = uri + "/m.json.tmp"
    logio.write_text(stage, json.dumps({"v": 2}))
    logio.replace_file(stage, m)
    assert logio.read_json(m) == {"v": 2}
    assert not os.path.exists(base + "/m.json.tmp")

    # listing / dir probes / rename / rmtree
    os.makedirs(base + "/d1/sub")
    with open(base + "/d1/sub/f", "w") as fh:
        fh.write("x")
    assert "d1" in logio.list_names(uri)
    assert logio.is_dir(uri + "/d1") and not logio.is_dir(m)
    logio.rename(uri + "/d1", uri + "/d2")
    assert os.path.isdir(base + "/d2") and not os.path.exists(base + "/d1")
    assert logio.rmtree(uri + "/d2") and not os.path.exists(base + "/d2")
    assert logio.rmtree(uri + "/never-existed")   # vacuous truth

    logio.remove(m)
    assert logio.read_json(m) is None
    logio.remove(m)                               # missing-ok

    # fsync helpers accept both spellings and never throw
    with open(base + "/f", "w") as fh:
        fh.write("y")
    logio.fsync_file(base + "/f")
    logio.fsync_file(uri + "/f")
    logio.fsync_dir(uri)


def test_publish_dir_atomic_and_marker_branches(spark, tmp_path, monkeypatch):
    base = str(tmp_path)
    uri = "file://" + base

    # atomic branch: plain rename — and every staged file, nested ones
    # included, reaches disk BEFORE the rename publishes it
    os.makedirs(base + "/stage-a/sub")
    staged = [base + "/stage-a/part", base + "/stage-a/sub/nested"]
    for f in staged:
        with open(f, "w") as fh:
            fh.write("a")
    events = []
    real_fsync, real_rename = logio._os_fsync_file, logio.rename

    def fsync_spy(lp):
        events.append(("fsync", lp))
        real_fsync(lp)

    def rename_spy(src, dst):
        events.append(("rename", src))
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(logio, "_os_fsync_file", fsync_spy)
        m.setattr(logio, "rename", rename_spy)
        logio.publish_dir(uri + "/stage-a", uri + "/final-a")
    renamed_at = events.index(("rename", uri + "/stage-a"))
    assert {lp for op, lp in events[:renamed_at] if op == "fsync"} \
        >= set(staged)
    assert os.path.isfile(base + "/final-a/part")
    assert os.path.isfile(base + "/final-a/sub/nested")
    assert not logio.publish_in_flight(uri + "/final-a")

    # marker branch (object-store protocol over a real local Hadoop FS)
    monkeypatch.setattr(logio, "rename_is_atomic", lambda p: False)
    os.makedirs(base + "/stage-b")
    with open(base + "/stage-b/part", "w") as fh:
        fh.write("b")
    logio.publish_dir(uri + "/stage-b", uri + "/final-b")
    assert os.path.isfile(base + "/final-b/part")
    assert not os.path.exists(
        base + "/final-b" + logio.PUBLISH_MARKER_SUFFIX
    ), "marker must be cleared after a completed publish"

    # crashed publish: marker + partial dest → clear_crashed_publish
    # removes BOTH; an unmarked dir is never touched
    os.makedirs(base + "/final-c")
    with open(base + "/final-c" + logio.PUBLISH_MARKER_SUFFIX, "w") as fh:
        fh.write("{}")
    assert logio.publish_in_flight(uri + "/final-c")
    assert logio.clear_crashed_publish(uri + "/final-c")
    assert not os.path.exists(base + "/final-c")
    assert not logio.clear_crashed_publish(uri + "/final-b")
    assert os.path.isfile(base + "/final-b/part"), (
        "a committed dir without a marker must never be deleted"
    )


def test_object_store_swap_branches(spark, tmp_path, monkeypatch):
    """create-overwrite PUT (write_json_atomic) and copy-PUT-delete
    (replace_file onto an existing dst) — the non-rename commit points —
    executed against a real local Hadoop FS by forcing the scheme
    capability answer."""
    base = str(tmp_path)
    uri = "file://" + base
    monkeypatch.setattr(logio, "rename_is_atomic", lambda p: False)

    m = uri + "/m.json"
    logio.write_json_atomic(m, {"n": 1})          # PUT create
    logio.write_json_atomic(m, {"n": 2})          # PUT overwrite
    assert logio.read_json(m) == {"n": 2}

    stage = uri + "/m.json.tmp"
    logio.write_text(stage, json.dumps({"n": 3}))
    logio.replace_file(stage, m)                  # copy-PUT-delete branch
    assert logio.read_json(m) == {"n": 3}
    assert not os.path.exists(base + "/m.json.tmp")

    fresh = uri + "/fresh.json"
    logio.write_text(stage2 := uri + "/s2", "x")
    logio.replace_file(stage2, fresh)             # fresh dst → rename path
    assert logio.read_text(fresh) == "x"


# --------------------------------------------------------------------- #
# end-to-end: the real protocols through file: URIs                      #
# --------------------------------------------------------------------- #


def test_sketch_rotation_through_file_scheme(spark, tmp_path):
    """Append → read → compact → read a real windowed HLL register log
    where every path the rotation touches is a ``file:`` URI — the
    horizon marker and the full manifest protocol (stage, prepared,
    move-in, committed, cleanup) through the Hadoop FS branch."""
    import datetime as dt

    from pyspark.sql import functions as F

    from cosmo_spark.operators.sketches import hll_registers
    from cosmo_spark.streaming.sketches import (
        _MANIFEST,
        expire_windows,
        hll_distinct_estimates_windowed,
        read_eviction_horizon,
    )

    base = str(tmp_path / "hll-log")
    uri = "file://" + base
    t0 = dt.datetime(2024, 1, 1)
    src = spark.createDataFrame(
        [(f"k{i % 3}", t0 + dt.timedelta(days=i % 2), f"v{i}")
         for i in range(300)],
        "key STRING, win TIMESTAMP, val STRING",
    )
    regs = hll_registers(src, ["key", "win"], "val") \
        .select("key", "win", "bucket", "rho")
    for _ in range(3):                      # three append generations
        regs.write.mode("append").parquet(uri)

    def estimates():
        return {
            tuple(r)[:-1]: tuple(r)[-1]
            for r in hll_distinct_estimates_windowed(spark, uri).collect()
        }

    before = estimates()
    assert len(before) == 3

    # a horizon at the earliest window drops nothing: a pure compaction
    expire_windows(spark, uri, "hll", older_than=t0)
    assert read_eviction_horizon(uri) == t0
    after = estimates()
    assert after == before                  # merge algebra: bit-identical
    assert not os.path.exists(os.path.join(base, _MANIFEST))
    assert spark.read.parquet(uri).filter(F.col("win") < t0).count() == 0
    # physically compacted: one rotation generation left
    parts = [n for n in os.listdir(base) if n.endswith(".parquet")]
    assert parts and all(n.startswith("rotated-") for n in parts)


def test_keeper_compaction_through_file_scheme(spark, tmp_path):
    """foreachBatch keeper state compaction where state lives at a
    ``file:`` URI: fold runs the two-phase manifest through the Hadoop
    branch, readers stay exact, newest batch stays out."""
    from cosmo_spark.streaming.neardup import (
        MEDIA_ACCEPT_SCHEMA,
        compact_media_keeper_logs,
        read_media_accepted,
    )

    base = str(tmp_path / "state")
    uri = "file://" + base
    empty = spark.createDataFrame([], MEDIA_ACCEPT_SCHEMA)
    for b in range(4):
        row = tuple(
            f"m{b}" if f.dataType.simpleString() == "string" else b
            for f in empty.schema.fields
        )
        spark.createDataFrame([row], empty.schema).write.mode(
            "overwrite"
        ).parquet(f"{uri}/batch-{b}")
    before = sorted(
        tuple(r) for r in read_media_accepted(spark, uri).collect()
    )
    res = compact_media_keeper_logs(spark, state_path=uri)
    assert res["state"]["consumed_dirs"] == 3    # newest stays out
    after = sorted(
        tuple(r) for r in read_media_accepted(spark, uri).collect()
    )
    assert after == before and len(after) == 4
    names = sorted(os.listdir(base))
    assert "batch-3" in names
    assert sum(n.startswith("compact-") for n in names) == 1
    assert not any(n.startswith("batch-") and n != "batch-3" for n in names)


def test_keeper_two_phase_manifest_reader_gating(spark, tmp_path):
    """Object-store soundness of the keeper protocol: in the PREPARED
    phase a (possibly partial) compact dir must be invisible to readers
    even when it already lists — dir-existence no longer implies
    committed (r12 verdict #2)."""
    from cosmo_spark.streaming.neardup import (
        _KEEPER_MANIFEST,
        _recover_keeper_compaction,
        MEDIA_ACCEPT_SCHEMA,
        read_media_accepted,
    )

    base = str(tmp_path / "state")
    empty = spark.createDataFrame([], MEDIA_ACCEPT_SCHEMA)

    def batch_row(b):
        return tuple(
            f"m{b}" if f.dataType.simpleString() == "string" else b
            for f in empty.schema.fields
        )

    for b in range(3):
        spark.createDataFrame([batch_row(b)], empty.schema).write.mode(
            "overwrite"
        ).parquet(os.path.join(base, f"batch-{b}"))
    before = sorted(
        tuple(r) for r in read_media_accepted(spark, base).collect()
    )

    # simulate a mid-copy crash on an object store: manifest says
    # prepared, the final dir EXISTS but holds only half the data
    spark.createDataFrame([batch_row(0)], empty.schema).write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "compact-t9"))   # partial: batch-0 only
    doc = {"phase": "prepared", "consumed": ["batch-0", "batch-1"],
           "final": "compact-t9", "tmp": "_compact-tmp-t9"}
    with open(os.path.join(base, _KEEPER_MANIFEST), "w") as fh:
        json.dump(doc, fh)

    # reader: consumed dirs still live, partial final dir IGNORED
    assert sorted(
        tuple(r) for r in read_media_accepted(spark, base).collect()
    ) == before

    # recovery: prepared rolls back — partial final deleted, consumed kept
    _recover_keeper_compaction(base)
    assert not os.path.exists(os.path.join(base, "compact-t9"))
    assert not os.path.exists(os.path.join(base, _KEEPER_MANIFEST))
    assert sorted(
        tuple(r) for r in read_media_accepted(spark, base).collect()
    ) == before


def test_rebuild_log_publish_through_file_scheme(spark, tmp_path):
    """rebuild_log staging + publish with source and dest as ``file:``
    URIs, plus the crashed-marker re-derivation path."""
    import datetime as dt

    from cosmo_spark.streaming.sketches import (
        HLLW_SCHEMA,
        read_eviction_horizon,
        rebuild_log,
    )

    src = "file://" + str(tmp_path / "src-log")
    dest_base = str(tmp_path / "dest-log")
    dest = "file://" + dest_base
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("k", t0 + dt.timedelta(hours=h), b, 3) for h in range(4)
        for b in range(2)
    ]
    spark.createDataFrame(rows, HLLW_SCHEMA).write.mode("append").parquet(src)

    rebuild_log(spark, src, dest, "hll", t0 + dt.timedelta(hours=1))
    assert os.path.isdir(dest_base)
    h = read_eviction_horizon(dest)
    assert h == t0 + dt.timedelta(hours=1)
    n = spark.read.schema(HLLW_SCHEMA).parquet(dest).count()
    assert n == 6                                  # hours 1..3 × 2 buckets

    # a crashed non-atomic publish (marker + partial dest) re-derives
    dest2_base = str(tmp_path / "dest2-log")
    os.makedirs(dest2_base)                        # partial remnants
    with open(dest2_base + logio.PUBLISH_MARKER_SUFFIX, "w") as fh:
        fh.write("{}")
    rebuild_log(
        spark, src, "file://" + dest2_base, "hll", t0 + dt.timedelta(hours=1)
    )
    assert spark.read.schema(HLLW_SCHEMA).parquet(
        "file://" + dest2_base
    ).count() == 6
    # while a REAL pre-existing dest (no marker) still refuses
    with pytest.raises(ValueError, match="already exists"):
        rebuild_log(
            spark, src, "file://" + dest2_base, "hll",
            t0 + dt.timedelta(hours=1),
        )


def test_damaged_horizon_marker_raises(tmp_path):
    """The eviction horizon is published by an atomic swap, so a marker
    that does not parse is damage.  Read as "no horizon" it would switch
    the late-data quarantine off and let evicted windows be recreated —
    it must raise instead."""
    from cosmo_spark.streaming.sketches import read_eviction_horizon

    log = tmp_path / "log"
    log.mkdir()
    marker = log / "_eviction_horizon"
    marker.write_text('{"older_than": "2024-01-')          # torn JSON
    with pytest.raises(ValueError):
        read_eviction_horizon(str(log))
    marker.write_text('{"older_than": "not a time"}')
    with pytest.raises(ValueError):
        read_eviction_horizon(str(log))
    marker.write_text("{}")
    with pytest.raises(KeyError):
        read_eviction_horizon(str(log))


def test_damaged_keeper_manifest_raises(tmp_path):
    """A keeper compaction manifest is published by an atomic swap, so
    one that does not parse is damage.  Read as "no manifest" the reader
    would list the consumed dirs AND the compact dir, double-counting
    every folded row — listing and recovery must raise instead."""
    from cosmo_spark.streaming.neardup import (
        _KEEPER_MANIFEST,
        _keeper_live_dirs,
        _recover_keeper_compaction,
    )

    base = tmp_path / "state"
    for d in ("batch-0", "batch-1", "batch-2", "compact-t9"):
        (base / d).mkdir(parents=True)
    (base / _KEEPER_MANIFEST).write_text('{"phase": "commit')
    with pytest.raises(ValueError):
        _keeper_live_dirs(str(base))
    with pytest.raises(ValueError):
        _recover_keeper_compaction(str(base))
    assert (base / "compact-t9").is_dir() and (base / "batch-0").is_dir()
    # a manifest without its phase is refused, not inferred
    (base / _KEEPER_MANIFEST).write_text(json.dumps(
        {"consumed": ["batch-0", "batch-1"], "final": "compact-t9",
         "tmp": "_compact-tmp-t9"}
    ))
    with pytest.raises(KeyError):
        _keeper_live_dirs(str(base))


def test_media_fp_store_compaction_through_file_scheme(spark, tmp_path):
    """Fingerprint-store compaction with the store at a ``file:`` URI:
    snapshot fold, move-in, snapshot delete — all through the Hadoop
    branch; reader row set unchanged."""
    from cosmo_spark.sources.media_fps import (
        _STORE_SCHEMA,
        compact_fp_store,
        read_fp_store,
    )

    base = str(tmp_path / "fp-store")
    uri = "file://" + base
    for _ in range(3):                             # three append generations
        # fingerprints are deterministic per content_hash — duplicate
        # generations carry identical rows, as production appends do
        spark.createDataFrame(
            [(h, h * 3, h * 5) for h in range(20)],
            _STORE_SCHEMA,
        ).write.mode("append").parquet(uri)
    before = sorted(
        tuple(r) for r in read_fp_store(spark, uri).collect()
    )
    res = compact_fp_store(spark, uri)
    assert res["rows_after"] == 20 and res["files_after"] < res["files_before"]
    after = sorted(tuple(r) for r in read_fp_store(spark, uri).collect())
    assert after == before
