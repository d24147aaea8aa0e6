"""Crash-atomicity of the sketch-log rotation (review r7 #1).

The old compaction rotated append logs with append-then-remove; for
Count-Min's ADDITIVE counters a crash between the two steps double-counts
every consumed snapshot on restart.  The r8 manifest protocol
(streaming/sketches.py `_rotate_log`) must make ANY crash point harmless.
The rotation's one entry point is `expire_windows`; every compaction
here passes a horizon at the earliest window (`EPOCH`), so it drops
nothing and only rewrites the log to its merged minimum:

  * the sweep tests kill the rotation at EVERY file-operation boundary
    (each `_fs_replace`, each `_fs_remove`) in turn, and after every kill
    assert (a) a reader sees exactly the pre-rotation state — never a
    double-count, never a partial generation — and (b) re-running the
    compactor (what a restarted maintainer does) converges to the same
    state as a single-pass batch build, with no manifest/tmp debris left;
  * the stream-restart test crashes the CMS compactor in its committed
    phase, restarts the REAL streaming maintainer against the damaged
    log, appends a new micro-batch, and asserts the final counters equal
    q108's batch pipeline over all documents.

All four sketches are swept: max (HLL), addition (CMS and HDR — the ones
that can double-count), set-union (KMV).  The logs spread their batches
over two event-time windows, so every read merges across windows.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from cosmo_spark.streaming import sketches as sk

# heavyweight Spark suite: deselected by the default `addopts` fast set so
# the driver's verify completes inside its window (r13 verdict #7); run via
# `pytest -m slow` or the full suite via `pytest --override-ini addopts= tests/`
pytestmark = pytest.mark.slow

#: the logs' windows; a horizon at EPOCH expires nothing
EPOCH = datetime(2024, 1, 1)
WINS = (EPOCH, datetime(2024, 1, 2))


def _win(i: int):
    return F.lit(WINS[i % len(WINS)]).alias("win")


def _compact(spark, kind: str):
    return lambda p: sk.expire_windows(spark, p, kind, older_than=EPOCH)


class _Kill(RuntimeError):
    """Stands in for the process dying mid-rotation."""


def _patched(op_name: str, fail_at: int):
    """Replace sketches.<op_name> with a wrapper that raises _Kill on its
    fail_at-th invocation.  Returns (restore_fn, fired_flag_dict)."""
    real = getattr(sk, op_name)
    state = {"n": 0, "fired": False}

    def wrapper(*a, **k):
        state["n"] += 1
        if state["n"] == fail_at:
            state["fired"] = True
            raise _Kill(f"{op_name} call #{fail_at}")
        return real(*a, **k)

    setattr(sk, op_name, wrapper)
    return (lambda: setattr(sk, op_name, real)), state


def _log_clean(path: str) -> bool:
    return (
        not os.path.exists(os.path.join(path, sk._MANIFEST))
        and not os.path.exists(os.path.join(path, sk._MANIFEST + ".tmp"))
        and not os.path.isdir(os.path.join(path, sk._TMP_DIR))
    )


def _sweep(tmp_path, pristine: str, read_state, compact, max_points=24):
    """Kill the rotation at every _fs_replace / _fs_remove boundary in
    turn (fresh copy of the pristine log each time); after each kill the
    reader must still see `expected`, and a restarted compaction must
    converge to `expected` with a clean log."""
    expected = read_state(pristine)
    assert expected, "sweep needs non-empty state"
    covered = 0
    for op_name in ("_fs_replace", "_fs_remove"):
        for fail_at in range(1, max_points + 1):
            log = str(tmp_path / f"log-{op_name}-{fail_at}")
            shutil.copytree(pristine, log)
            restore, state = _patched(op_name, fail_at)
            try:
                compact(log)
            except _Kill:
                pass
            finally:
                restore()
            if not state["fired"]:
                # rotation completed before reaching this op count: the
                # kill-point space for this op is exhausted
                shutil.rmtree(log)
                assert fail_at > 1, f"no {op_name} calls in a rotation?"
                break
            covered += 1
            # (a) a reader over the crashed log sees exactly one
            # generation — the manifest filter, not luck
            assert read_state(log) == expected, (
                f"reader corrupted after kill at {op_name}#{fail_at}"
            )
            # (b) restart: the next compaction recovers, then rotates
            compact(log)
            assert read_state(log) == expected, (
                f"restart diverged after kill at {op_name}#{fail_at}"
            )
            assert _log_clean(log), f"debris after {op_name}#{fail_at}"
            shutil.rmtree(log)
    # the protocol has >= 2 replaces (two manifest commits) and
    # >= 2 removes (snapshot + manifest) — a sweep that covered fewer
    # points would mean the injection missed the rotation entirely
    assert covered >= 4, f"only {covered} kill points exercised"


# --------------------------------------------------------------------- #
# CMS: the additive algebra — the one the protocol exists for           #
# --------------------------------------------------------------------- #

def _cms_tokh(spark, texts):
    from cosmo_spark.functions.text import poly_hash, tokenize

    docs = spark.createDataFrame([(t,) for t in texts], "text STRING")
    return docs.filter(F.col("text").isNotNull()).select(
        F.explode(tokenize(F.col("text"))).alias("tok")
    ).select(poly_hash(F.col("tok")).alias("th"))


_CMS_BATCHES = [
    ["the quick fox jumps", "the lazy dog"],
    ["the fox sleeps", "every dog has the day"],
    ["quick quick fox", "the end"],
]


def _cms_append(spark, path: str, bid: int, texts) -> None:
    """One micro-batch's counter generation, as the windowed maintainer's
    foreachBatch appends it.  Batches pair up per window (0 and 1 share
    the first), so the fold of committed batches has cells to merge."""
    from cosmo_spark.operators.sketches import cms_counters

    cms_counters(_cms_tokh(spark, texts)).select(
        F.lit(bid).cast("bigint").alias("batch_id"), _win(bid // 2),
        "r", "bucket", "cnt",
    ).write.mode("append").parquet(path)


def _cms_state(spark, path: str) -> dict:
    return {
        (r.r, r.bucket): r.cnt
        for r in sk.read_cms_counters_windowed(spark, path).collect()
    }


def _build_cms_log(spark, path: str) -> dict:
    """Append 3 micro-batch counter generations (what the maintainer's
    foreachBatch does), return the single-pass batch oracle — q108's
    counter pipeline over the union of all documents."""
    from cosmo_spark.operators.sketches import cms_counters

    for bid, texts in enumerate(_CMS_BATCHES):
        _cms_append(spark, path, bid, texts)
    batch = cms_counters(
        _cms_tokh(spark, [t for b in _CMS_BATCHES for t in b])
    )
    return {(r.r, r.bucket): r.cnt for r in batch.collect()}


def test_cms_rotation_crash_sweep(spark, tmp_path):
    pristine = str(tmp_path / "pristine")
    expected = _build_cms_log(spark, pristine)

    def read_state(path):
        return _cms_state(spark, path)

    assert read_state(pristine) == expected
    n_before = spark.read.schema(sk.CMSW_SCHEMA).parquet(pristine).count()
    _sweep(tmp_path, pristine, read_state, _compact(spark, "cms"))
    # happy path: all COMMITTED batches fold into the sentinel; the
    # newest batch keeps its identity (it is the one a checkpoint can
    # replay — see test_cms_compaction_preserves_newest_batch_dedupe)
    _compact(spark, "cms")(pristine)
    assert read_state(pristine) == expected
    log = spark.read.schema(sk.CMSW_SCHEMA).parquet(pristine)
    ids = {r.batch_id for r in log.select("batch_id").distinct().collect()}
    assert ids == {-1, len(_CMS_BATCHES) - 1}
    assert log.count() < n_before


def test_cms_compaction_preserves_newest_batch_dedupe(spark, tmp_path):
    """review r8: the checkpoint can replay the LAST uncommitted batch
    after a crash; if compaction had folded it into the sentinel, the
    replayed rows would no longer dedupe and every count from that batch
    would double.  Compact, then replay the newest batch — counts must
    not change."""
    path = str(tmp_path / "log")
    expected = _build_cms_log(spark, path)
    _compact(spark, "cms")(path)
    # the stream restarts and replays batch 2 verbatim
    last = len(_CMS_BATCHES) - 1
    _cms_append(spark, path, last, _CMS_BATCHES[last])
    assert _cms_state(spark, path) == expected, (
        "replayed newest batch must dedupe after compaction"
    )


def test_cms_double_compaction_keeps_sentinel_sound(spark, tmp_path):
    """Two compactions with appends in between: the -1 sentinel rows from
    generation 1 must merge into generation 2 exactly once."""
    from cosmo_spark.operators.sketches import cms_counters

    path = str(tmp_path / "log")
    _build_cms_log(spark, path)
    _compact(spark, "cms")(path)
    extra = "brand new tokens arrive"
    _cms_append(spark, path, 3, [extra])
    _compact(spark, "cms")(path)
    batch = cms_counters(
        _cms_tokh(spark, [t for b in _CMS_BATCHES for t in b] + [extra])
    )
    assert _cms_state(spark, path) == {
        (r.r, r.bucket): r.cnt for r in batch.collect()
    }


# --------------------------------------------------------------------- #
# HLL (max) and KMV (set union): idempotent algebras, same protocol     #
# --------------------------------------------------------------------- #

def test_hll_rotation_crash_sweep(spark, tmp_path):
    from cosmo_spark.operators.sketches import hll_registers

    pristine = str(tmp_path / "pristine")
    batches = [
        [("web", f"doc {i}") for i in range(30)],
        [("web", f"doc {i}") for i in range(15, 45)] + [("wiki", "alpha")],
    ]
    for i, b in enumerate(batches):
        hll_registers(
            spark.createDataFrame(b, "key STRING, text STRING")
            .select("key", _win(i), "text"),
            ["key", "win"], "text",
        ).select("key", "win", "bucket", "rho") \
            .write.mode("append").parquet(pristine)

    def read_state(path):
        return {
            (r.key, r.bucket): r.rho
            for r in sk.read_hll_registers_windowed(spark, path).collect()
        }

    batch = hll_registers(
        spark.createDataFrame(
            [d for b in batches for d in b], "key STRING, text STRING"
        ),
        ["key"], "text",
    )
    assert read_state(pristine) == {
        (r.key, r.bucket): r.rho for r in batch.collect()
    }
    _sweep(tmp_path, pristine, read_state, _compact(spark, "hll"))


def test_kmv_rotation_crash_sweep(spark, tmp_path):
    from cosmo_spark.functions.text import poly_hash
    from cosmo_spark.operators.sketches import kmv_k_smallest

    pristine = str(tmp_path / "pristine")
    batches = [
        [("web", f"tok{i}") for i in range(0, 120)],
        [("web", f"tok{i}") for i in range(80, 200)]
        + [("wiki", v) for v in ("alpha", "beta", "gamma")],
    ]

    def hashes(rows):
        return (
            spark.createDataFrame(rows, "key STRING, text STRING")
            .select("key", poly_hash(F.col("text")).alias("h"))
            .distinct()
        )

    for i, b in enumerate(batches):
        kmv_k_smallest(
            hashes(b).select("key", _win(i), "h"), ["key", "win"]
        ).write.mode("append").parquet(pristine)

    def read_state(path):
        return {
            (r.key, r.h)
            for r in sk.read_kmv_values_windowed(spark, path).collect()
        }

    assert read_state(pristine) == {
        (r.key, r.h)
        for r in kmv_k_smallest(
            hashes([d for b in batches for d in b]), ["key"]
        ).collect()
    }
    _sweep(tmp_path, pristine, read_state, _compact(spark, "kmv"))


# --------------------------------------------------------------------- #
# Restarting the REAL maintainer over a crash-damaged log               #
# --------------------------------------------------------------------- #

def test_cms_stream_restart_after_committed_phase_crash(spark, tmp_path):
    """Kill the compactor between the commit flip and the snapshot
    removes (the exact append-then-remove hole), then restart the real
    streaming maintainer, feed a new micro-batch, and compare against
    q108's batch pipeline over ALL documents."""
    from cosmo_spark.operators.sketches import cms_counters

    src = tmp_path / "in"
    src.mkdir()
    ckpt, ctr = str(tmp_path / "ck"), str(tmp_path / "ctr")
    b1 = ["the quick fox jumps", "the lazy dog"]
    b2 = ["the fox sleeps", "every dog has the day"]

    def write_batch(name, texts):
        with open(src / name, "w") as f:
            for i, t in enumerate(texts):
                f.write(json.dumps({
                    "source": "s", "text": t,
                    "ts": WINS[i % len(WINS)].isoformat(),
                }) + "\n")

    def run_maintainer():
        stream = spark.readStream.schema(
            "source STRING, text STRING, ts TIMESTAMP"
        ).json(str(src))
        sk.stream_cms_counters_windowed(stream, "text", "ts", ctr, ckpt) \
            .awaitTermination(120)

    write_batch("b1.json", b1)
    run_maintainer()

    # crash the rotation in its COMMITTED phase: first _fs_remove after
    # the commit flip is a consumed-snapshot delete
    n_files = len(glob.glob(os.path.join(ctr, "*.parquet")))
    assert n_files >= 1
    restore, state = _patched("_fs_remove", 2)
    try:
        with pytest.raises(_Kill):
            _compact(spark, "cms")(ctr)
    finally:
        restore()
    assert state["fired"]
    doc = sk._read_manifest(ctr)
    assert doc is not None and doc["phase"] == "committed", (
        "kill point must land inside the committed phase for this test"
    )

    # restart the maintainer against the damaged log; a new batch arrives
    write_batch("b2.json", b2)
    run_maintainer()

    batch = cms_counters(_cms_tokh(spark, b1 + b2))
    expected = {(r.r, r.bucket): r.cnt for r in batch.collect()}
    assert _cms_state(spark, ctr) == expected, (
        "committed-phase crash must not double-count"
    )

    # the next compaction (or explicit recovery) heals the log
    _compact(spark, "cms")(ctr)
    assert _cms_state(spark, ctr) == expected
    assert _log_clean(ctr)


def test_hdr_rotation_crash_sweep(spark, tmp_path):
    """The fourth algebra through the same manifest protocol: HDR bucket
    counts are ADDITIVE like CMS, so every kill point must neither
    double-count nor half-drop a generation."""
    from pyspark.sql import functions as F

    from cosmo_spark.operators.sketches import hdr_bucket_spark_sql

    pristine = str(tmp_path / "pristine")
    batches = [
        [0.001, 0.5, 2.0, 47.0], [2.0, 99.5, 123456.0], [0.25, 0.25, 7.0],
    ]
    for bid, vals in enumerate(batches):
        (
            spark.createDataFrame([(v,) for v in vals], "value DOUBLE")
            .select(F.expr(
                "cast(floor(value * 1000000.0) as bigint)"
            ).alias("mic"))
            .select(F.expr(hdr_bucket_spark_sql("mic")).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit(bid).cast("bigint").alias("batch_id"),
                    F.lit("s").alias("key"), _win(bid), "bucket", "cnt")
            .write.mode("append").parquet(pristine)
        )

    def read_state(path):
        return {
            (r.key, r.bucket): r.cnt
            for r in sk.read_hdr_buckets_windowed(spark, path).collect()
        }

    _sweep(tmp_path, pristine, read_state, _compact(spark, "hdr"))


def test_reader_racing_live_rotations_never_sees_mixed_generation(
    spark, tmp_path
):
    """Stress the manifest-filtered reader against a LIVE rotator: a
    loop of compactions in a background thread while the foreground
    reader hammers read_cms_counters_windowed.  The contract is CONSISTENT-OR-
    LOUD: every read that RETURNS must carry exactly the merged counter
    state (one generation — never a double-count or partial view; the
    r8 ABA gate), while a read whose task execution overlaps the
    post-commit cleanup may fail loudly with FILE_NOT_EXIST and is
    retried — the documented snapshot-retention trade."""
    import threading

    path = str(tmp_path / "log")
    expected = _build_cms_log(spark, path)

    stop = threading.Event()
    errors: list[BaseException] = []

    def rotate_forever():
        try:
            while not stop.is_set():
                _compact(spark, "cms")(path)
                # keep the log multi-file so every rotation has real work
                last = len(_CMS_BATCHES) - 1
                _cms_append(spark, path, last, _CMS_BATCHES[last])
        except BaseException as e:  # surfaced in the main thread
            errors.append(e)

    t = threading.Thread(target=rotate_forever, daemon=True)
    t.start()
    ok = loud = 0
    try:
        while ok < 10 and ok + loud < 60:
            try:
                got = _cms_state(spark, path)
            except Exception as e:  # loud-and-retryable, never silent
                assert "FILE_NOT_EXIST" in str(e) or "does not exist" in str(e), e
                loud += 1
                continue
            assert got == expected, "reader observed a mixed generation"
            ok += 1
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors, errors
    assert ok >= 10, f"only {ok} consistent reads ({loud} loud retries)"
    # settle: one final compaction and the state is still exact
    _compact(spark, "cms")(path)
    assert _cms_state(spark, path) == expected
