"""Windowed sketch registers: event-time-bucketed HLL/CMS/KMV/HDR
state so horizon questions ("distinct over the last 30 days") are answerable
and old buckets AGE OUT of at-rest state — bounded sketches on an unbounded
stream.  Gates: (a) an in-horizon read is bit-identical to a from-scratch
batch sketch over exactly the in-horizon rows; (b) ``expire_windows`` drops
the aged buckets from disk and post-expiry reads equal the in-horizon batch
build; (c) eviction runs through the crash-atomic rotation (manifest debris
never survives)."""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql import functions as F

from cosmo_spark.streaming import sketches as sk

import pytest

# heavyweight Spark suite: deselected by the default `addopts` fast set so
# the driver's verify completes inside its window (r13 verdict #7); run via
# `pytest -m slow` or the full suite via `pytest --override-ini addopts= tests/`
pytestmark = pytest.mark.slow

JAN = datetime(2024, 1, 1)
FEB = datetime(2024, 2, 1)

B_JAN = [("web", f"jan doc {i}", "2024-01-01T08:00:00") for i in range(30)] + [
    ("wiki", "alpha beta", "2024-01-01T09:30:00")
]
B_FEB = [("web", f"feb doc {i}", "2024-02-01T11:00:00") for i in range(20)] + [
    ("wiki", "gamma", "2024-02-01T12:15:00"),
    ("wiki", None, "2024-02-01T12:16:00"),
]
SCHEMA = "source STRING, text STRING, ts TIMESTAMP"


def _write_batch(src, name, docs):
    with open(src / name, "w") as f:
        for key, text, ts in docs:
            f.write(json.dumps({"source": key, "text": text, "ts": ts}) + "\n")


def _feed(spark, tmp_path, start_fn):
    src = tmp_path / "in"
    src.mkdir()
    _write_batch(src, "b1.json", B_JAN)
    start_fn(spark.readStream.schema(SCHEMA).json(str(src))).awaitTermination(120)
    _write_batch(src, "b2.json", B_FEB)
    start_fn(spark.readStream.schema(SCHEMA).json(str(src))).awaitTermination(120)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(k, t) for k, t, _ in rows], "key STRING, text STRING"
    )


def test_hll_windowed_horizon_and_eviction(spark, tmp_path):
    from cosmo_spark.operators.sketches import hll_estimate, hll_registers

    regs, ckpt = str(tmp_path / "regs"), str(tmp_path / "ck")
    _feed(spark, tmp_path, lambda s: sk.stream_hll_registers_windowed(
        s, "source", "text", "ts", regs, ckpt
    ))

    def ests(since=None, until=None):
        return {
            r.key: r.est
            for r in sk.hll_distinct_estimates_windowed(
                spark, regs, since, until
            ).collect()
        }

    def batch_ests(rows):
        return {
            r.key: r.est
            for r in hll_estimate(
                hll_registers(_docs(spark, rows), ["key"], "text"), ["key"]
            ).collect()
        }

    assert ests() == batch_ests(B_JAN + B_FEB)
    assert ests(since=FEB) == batch_ests(B_FEB)
    assert ests(until=FEB) == batch_ests(B_JAN)

    # eviction: January ages out of at-rest state entirely
    sk.expire_windows(spark, regs, "hll", older_than=FEB)
    log = spark.read.schema(sk.HLLW_SCHEMA).parquet(regs)
    assert log.filter(F.col("win") < F.lit(FEB)).count() == 0
    assert log.count() > 0
    assert ests() == batch_ests(B_FEB), "post-expiry == in-horizon batch"
    assert sk._read_manifest(regs) is None, "rotation must leave no debris"


def test_cms_windowed_horizon_and_eviction(spark, tmp_path):
    from cosmo_spark.functions.text import poly_hash, tokenize
    from cosmo_spark.operators.sketches import cms_counters

    ctr, ckpt = str(tmp_path / "ctr"), str(tmp_path / "ck")
    _feed(spark, tmp_path, lambda s: sk.stream_cms_counters_windowed(
        s, "text", "ts", ctr, ckpt
    ))

    def batch_counters(rows):
        tokh = _docs(spark, rows).filter(F.col("text").isNotNull()).select(
            F.explode(tokenize(F.col("text"))).alias("tok")
        ).select(poly_hash(F.col("tok")).alias("th"))
        return {
            (r.r, r.bucket): r.cnt for r in cms_counters(tokh).collect()
        }

    def got(since=None, until=None):
        return {
            (r.r, r.bucket): r.cnt
            for r in sk.read_cms_counters_windowed(
                spark, ctr, since, until
            ).collect()
        }

    assert got() == batch_counters(B_JAN + B_FEB)
    assert got(since=FEB) == batch_counters(B_FEB)
    assert got(until=FEB) == batch_counters(B_JAN)

    sk.expire_windows(spark, ctr, "cms", older_than=FEB)
    log = spark.read.schema(sk.CMSW_SCHEMA).parquet(ctr)
    assert log.filter(F.col("win") < F.lit(FEB)).count() == 0
    assert got() == batch_counters(B_FEB)
    # additive state stayed exactly-once through expiry; batch 0 (all
    # January) vanished with its windows, batch 1 is newest and keeps
    # its identity for replay dedupe (review r8)
    assert {r.batch_id for r in log.select("batch_id").distinct().collect()} \
        == {1}


def test_kmv_windowed_horizon_and_eviction(spark, tmp_path):
    from cosmo_spark.functions.text import poly_hash
    from cosmo_spark.operators.sketches import kmv_k_smallest

    vals, ckpt = str(tmp_path / "vals"), str(tmp_path / "ck")
    _feed(spark, tmp_path, lambda s: sk.stream_kmv_values_windowed(
        s, "source", "text", "ts", vals, ckpt
    ))

    def batch_sketch(rows):
        hs = (
            _docs(spark, rows).filter(F.col("text").isNotNull())
            .select("key", poly_hash(F.col("text")).alias("h"))
            .distinct()
        )
        return {(r.key, r.h) for r in kmv_k_smallest(hs, ["key"]).collect()}

    def got(since=None, until=None):
        return {
            (r.key, r.h)
            for r in sk.read_kmv_values_windowed(
                spark, vals, since, until
            ).collect()
        }

    assert got() == batch_sketch(B_JAN + B_FEB)
    assert got(since=FEB) == batch_sketch(B_FEB)

    sk.expire_windows(spark, vals, "kmv", older_than=FEB)
    log = spark.read.schema(sk.KMVW_SCHEMA).parquet(vals)
    assert log.filter(F.col("win") < F.lit(FEB)).count() == 0
    assert got() == batch_sketch(B_FEB)


def test_hdr_windowed_horizon_and_eviction(spark, tmp_path):
    """'p99 over the last 30 days' — the HDR deployment shape: in-horizon
    quantile estimates equal the batch sketch over exactly the in-horizon
    rows; aged windows evict through the crash-atomic rotation."""
    from cosmo_spark.operators.sketches import hdr_bucket_spark_sql

    jan_vals = [0.5, 2.0, 47.0, 100.0, 12345.678]
    feb_vals = [1.5, 8.0, 8.0, 999.25]
    rows = (
        [("s", v, "2024-01-01T08:00:00") for v in jan_vals]
        + [("s", v, "2024-02-01T11:00:00") for v in feb_vals]
        + [("s", None, "2024-02-01T11:01:00"),
           ("s", -3.0, "2024-02-01T11:02:00")]
    )
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for k, v, ts in rows:
            f.write(json.dumps({"source": k, "value": v, "ts": ts}) + "\n")
    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    stream = spark.readStream.schema(
        "source STRING, value DOUBLE, ts TIMESTAMP"
    ).json(str(src))
    sk.stream_hdr_buckets_windowed(
        stream, "source", "value", "ts", log, ckpt
    ).awaitTermination(120)

    def batch_counts(vals):
        return {
            (r.key, r.bucket): r.cnt
            for r in (
                spark.createDataFrame([(v,) for v in vals], "value DOUBLE")
                .select(F.expr(
                    "cast(floor(value * 1000000.0) as bigint)"
                ).alias("mic"))
                .select(F.expr(hdr_bucket_spark_sql("mic")).alias("bucket"))
                .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
                .select(F.lit("s").alias("key"), "bucket", "cnt")
            ).collect()
        }

    def got(since=None, until=None):
        return {
            (r.key, r.bucket): r.cnt
            for r in sk.read_hdr_buckets_windowed(
                spark, log, since, until
            ).collect()
        }

    assert got() == batch_counts(jan_vals + feb_vals)
    assert got(since=FEB) == batch_counts(feb_vals)
    assert got(until=FEB) == batch_counts(jan_vals)

    # horizon estimate: p50 over Feb only brackets Feb's true median
    ests = {
        (r.key, r.quantile): r.est_value
        for r in sk.hdr_quantile_estimates_windowed(
            spark, log, since=FEB
        ).collect()
    }
    svals, n = sorted(feb_vals), len(feb_vals)
    true = next(v for i, v in enumerate(svals, 1) if 100 * i >= 50 * n)
    assert ests[("s", 50)] <= true + 1e-9
    assert true <= ests[("s", 50)] * (1 + 1 / 32) + 2e-6

    sk.expire_windows(spark, log, "hdr", older_than=FEB)
    logdf = spark.read.schema(sk.HDRW_SCHEMA).parquet(log)
    assert logdf.filter(F.col("win") < F.lit(FEB)).count() == 0
    assert got() == batch_counts(feb_vals)
    # single-batch log: the newest (only) batch is never folded — it is
    # the one the checkpoint could replay (review r8)
    assert {r.batch_id for r in
            logdf.select("batch_id").distinct().collect()} == {0}


def test_expire_everything_leaves_empty_readable_log(spark, tmp_path):
    """Expiring past every window must empty the log without breaking
    readers (the fully-aged-out edge of the eviction contract)."""
    from datetime import datetime

    rows = [("s", "alpha", "2024-01-01T08:00:00")]
    src = tmp_path / "in"
    src.mkdir()
    _write_batch(src, "b1.json", rows)
    regs, ckpt = str(tmp_path / "regs"), str(tmp_path / "ck")
    sk.stream_hll_registers_windowed(
        spark.readStream.schema(SCHEMA).json(str(src)),
        "source", "text", "ts", regs, ckpt,
    ).awaitTermination(120)
    assert sk.read_hll_registers_windowed(spark, regs).count() > 0
    sk.expire_windows(spark, regs, "hll", older_than=datetime(2030, 1, 1))
    assert sk.read_hll_registers_windowed(spark, regs).count() == 0
    assert sk.hll_distinct_estimates_windowed(spark, regs).count() == 0
    assert sk._read_manifest(regs) is None


# --------------------------------------------------------------------------- #
# round-10 #4: late-data policy — quarantine, never recreate                  #
# --------------------------------------------------------------------------- #

LATE_JAN = [("web", "late straggler jan", "2024-01-05T10:00:00")]
FRESH_FEB = [("wiki", "fresh delta", "2024-02-02T09:00:00")]


def _late_case(spark, tmp_path, kind, schema_str, start_fn, read_fn, log):
    """Shared late-data drill: build JAN+FEB state, expire JAN, then feed
    a batch carrying BOTH a pre-horizon straggler and a fresh in-horizon
    row.  The straggler must quarantine (observable), the fresh row must
    land, and no pre-horizon window may reappear in the live log."""
    src = tmp_path / "in"
    src.mkdir()
    _write_batch(src, "b1.json", B_JAN + B_FEB)
    start_fn(spark.readStream.schema(SCHEMA).json(str(src))).awaitTermination(120)

    sk.expire_windows(spark, log, kind, older_than=FEB)
    assert sk.read_eviction_horizon(log) == FEB
    before = sorted(tuple(r) for r in read_fn().collect())

    _write_batch(src, "b2.json", LATE_JAN + FRESH_FEB)
    start_fn(spark.readStream.schema(SCHEMA).json(str(src))).awaitTermination(120)

    # live log: not a single pre-horizon window recreated
    live = spark.read.schema(schema_str).parquet(log)
    assert live.filter(F.col("win") < F.lit(FEB)).count() == 0
    # the straggler is OBSERVABLE in quarantine, under its true window
    q = sk.read_late_quarantine(spark, log, schema_str)
    assert q.count() > 0
    assert q.filter(F.col("win") >= F.lit(FEB)).count() == 0
    # the fresh in-horizon row DID land (reads moved), and the JAN-free
    # horizon read before the late batch is a subset story: re-reading
    # with until=FEB (the evicted region) stays EMPTY
    after = sorted(tuple(r) for r in read_fn().collect())
    assert after != before
    assert read_fn(until=FEB).count() == 0
    # monotone horizon: an earlier expiry cannot un-evict
    sk.expire_windows(spark, log, kind, older_than=JAN)
    assert sk.read_eviction_horizon(log) == FEB


def test_hll_late_data_quarantined(spark, tmp_path):
    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    _late_case(
        spark, tmp_path, "hll", sk.HLLW_SCHEMA,
        lambda s: sk.stream_hll_registers_windowed(
            s, "source", "text", "ts", log, ckpt),
        lambda since=None, until=None: sk.read_hll_registers_windowed(
            spark, log, since, until),
        log,
    )


def test_cms_late_data_quarantined(spark, tmp_path):
    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    _late_case(
        spark, tmp_path, "cms", sk.CMSW_SCHEMA,
        lambda s: sk.stream_cms_counters_windowed(
            s, "text", "ts", log, ckpt),
        lambda since=None, until=None: sk.read_cms_counters_windowed(
            spark, log, since, until),
        log,
    )


def test_kmv_late_data_quarantined(spark, tmp_path):
    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    _late_case(
        spark, tmp_path, "kmv", sk.KMVW_SCHEMA,
        lambda s: sk.stream_kmv_values_windowed(
            s, "source", "text", "ts", log, ckpt),
        lambda since=None, until=None: sk.read_kmv_values_windowed(
            spark, log, since, until),
        log,
    )


def test_hdr_late_data_quarantined(spark, tmp_path):
    """HDR variant (value stream, not text): same drill over the latency
    shape."""
    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    src = tmp_path / "in"
    src.mkdir()
    vschema = "source STRING, value DOUBLE, ts TIMESTAMP"

    def write_vals(name, rows):
        with open(src / name, "w") as f:
            for k, v, ts in rows:
                f.write(json.dumps({"source": k, "value": v, "ts": ts}) + "\n")

    def run():
        sk.stream_hdr_buckets_windowed(
            spark.readStream.schema(vschema).json(str(src)),
            "source", "value", "ts", log, ckpt,
        ).awaitTermination(120)

    write_vals("b1.json", [("s", 2.0, "2024-01-01T08:00:00"),
                           ("s", 9.0, "2024-02-01T11:00:00")])
    run()
    sk.expire_windows(spark, log, "hdr", older_than=FEB)
    write_vals("b2.json", [("s", 3.0, "2024-01-06T08:00:00"),   # straggler
                           ("s", 17.0, "2024-02-03T11:00:00")])  # fresh
    run()
    live = spark.read.schema(sk.HDRW_SCHEMA).parquet(log)
    assert live.filter(F.col("win") < F.lit(FEB)).count() == 0
    q = sk.read_late_quarantine(spark, log, sk.HDRW_SCHEMA)
    assert q.count() == 1 and q.first().cnt == 1
    assert sk.read_hdr_buckets_windowed(spark, log, until=FEB).count() == 0
    # the fresh row landed
    assert sk.read_hdr_buckets_windowed(spark, log).agg(
        F.sum("cnt")).first()[0] == 2


# --------------------------------------------------------------------------- #
# round-11: quarantine REPLAY — rebuild_window consumes _late/                 #
# --------------------------------------------------------------------------- #
#
# The recovery drill: the horizon is established BEFORE a window's events
# arrive (an early eviction decree), so ALL of that window's register
# mass lands in quarantine across several micro-batches.  rebuild_window
# must then equal a from-scratch batch sketch over ALL of the window's
# events — and for an in-horizon window it must equal the ordinary
# windowed read (live only).  The live log and the horizon stay
# untouched throughout (replay is a read, never a re-admission).


def _rebuild_case(spark, tmp_path, kind, schema_str, start_fn, log):
    src = tmp_path / "in"
    src.mkdir()
    _write_batch(src, "b1.json", B_FEB)
    start_fn(spark.readStream.schema(SCHEMA).json(str(src))).awaitTermination(120)
    sk.expire_windows(spark, log, kind, older_than=FEB)

    half = len(B_JAN) // 2
    _write_batch(src, "b2.json", B_JAN[:half])
    start_fn(spark.readStream.schema(SCHEMA).json(str(src))).awaitTermination(120)
    _write_batch(src, "b3.json", B_JAN[half:])
    start_fn(spark.readStream.schema(SCHEMA).json(str(src))).awaitTermination(120)

    # every JAN partial is in quarantine; none in the live log
    live = spark.read.schema(schema_str).parquet(log)
    assert live.filter(F.col("win") < F.lit(FEB)).count() == 0
    assert sk.read_late_quarantine(spark, log, schema_str).count() > 0
    jan = sorted(map(tuple, sk.rebuild_window(spark, log, kind, JAN).collect()))
    feb = sorted(map(tuple, sk.rebuild_window(spark, log, kind, FEB).collect()))
    # the replay is a READ: horizon monotone and untouched, live log same
    assert sk.read_eviction_horizon(log) == FEB
    assert spark.read.schema(schema_str).parquet(log) \
        .filter(F.col("win") < F.lit(FEB)).count() == 0
    return jan, feb


def test_hll_rebuild_window_from_quarantine(spark, tmp_path):
    from cosmo_spark.operators.sketches import hll_registers

    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    jan, feb = _rebuild_case(
        spark, tmp_path, "hll", sk.HLLW_SCHEMA,
        lambda s: sk.stream_hll_registers_windowed(
            s, "source", "text", "ts", log, ckpt),
        log,
    )

    def batch(rows):
        return sorted(
            map(tuple, hll_registers(_docs(spark, rows), ["key"], "text")
                .select("key", "bucket", "rho").collect())
        )

    assert jan == batch(B_JAN)
    assert feb == batch(B_FEB)


def test_cms_rebuild_window_from_quarantine(spark, tmp_path):
    from cosmo_spark.functions.text import poly_hash, tokenize
    from cosmo_spark.operators.sketches import cms_counters

    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    jan, feb = _rebuild_case(
        spark, tmp_path, "cms", sk.CMSW_SCHEMA,
        lambda s: sk.stream_cms_counters_windowed(s, "text", "ts", log, ckpt),
        log,
    )

    def batch(rows):
        tokh = _docs(spark, rows).filter(F.col("text").isNotNull()).select(
            F.explode(tokenize(F.col("text"))).alias("tok")
        ).select(poly_hash(F.col("tok")).alias("th"))
        return sorted(
            map(tuple, cms_counters(tokh).select("r", "bucket", "cnt")
                .collect())
        )

    assert jan == batch(B_JAN)
    assert feb == batch(B_FEB)


def test_kmv_rebuild_window_from_quarantine(spark, tmp_path):
    from cosmo_spark.functions.text import poly_hash
    from cosmo_spark.operators.sketches import kmv_k_smallest

    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    jan, feb = _rebuild_case(
        spark, tmp_path, "kmv", sk.KMVW_SCHEMA,
        lambda s: sk.stream_kmv_values_windowed(
            s, "source", "text", "ts", log, ckpt),
        log,
    )

    def batch(rows):
        hs = (
            _docs(spark, rows).filter(F.col("text").isNotNull())
            .select("key", poly_hash(F.col("text")).alias("h"))
            .distinct()
        )
        return sorted(
            map(tuple, kmv_k_smallest(hs, ["key"]).select("key", "h")
                .collect())
        )

    assert jan == batch(B_JAN)
    assert feb == batch(B_FEB)


def test_hdr_rebuild_window_from_quarantine(spark, tmp_path):
    from cosmo_spark.operators.sketches import hdr_bucket_spark_sql

    jan_vals = [0.5, 2.0, 47.0, 100.0, 12345.678]
    feb_vals = [1.5, 8.0, 8.0, 999.25]
    src = tmp_path / "in"
    src.mkdir()

    def write_vals(name, rows):
        with open(src / name, "w") as f:
            for k, v, ts in rows:
                f.write(json.dumps({"source": k, "value": v, "ts": ts}) + "\n")

    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema(
            "source STRING, value DOUBLE, ts TIMESTAMP"
        ).json(str(src))
        sk.stream_hdr_buckets_windowed(
            stream, "source", "value", "ts", log, ckpt
        ).awaitTermination(120)

    write_vals("b1.json", [("s", v, "2024-02-01T11:00:00") for v in feb_vals])
    run()
    sk.expire_windows(spark, log, "hdr", older_than=FEB)
    write_vals("b2.json", [("s", v, "2024-01-01T08:00:00") for v in jan_vals[:2]])
    run()
    write_vals("b3.json", [("s", v, "2024-01-01T08:30:00") for v in jan_vals[2:]])
    run()

    assert spark.read.schema(sk.HDRW_SCHEMA).parquet(log) \
        .filter(F.col("win") < F.lit(FEB)).count() == 0

    def batch(vals):
        return sorted(map(tuple, (
            spark.createDataFrame([(v,) for v in vals], "value DOUBLE")
            .select(F.expr("cast(floor(value * 1000000.0) as bigint)")
                    .alias("mic"))
            .select(F.expr(hdr_bucket_spark_sql("mic")).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit("s").alias("key"), "bucket", "cnt")
        ).collect()))

    jan = sorted(map(tuple, sk.rebuild_window(spark, log, "hdr", JAN).collect()))
    feb = sorted(map(tuple, sk.rebuild_window(spark, log, "hdr", FEB).collect()))
    assert jan == batch(jan_vals)
    assert feb == batch(feb_vals)
    assert sk.read_eviction_horizon(log) == FEB


def test_q161_artifact_holds_window_only_in_quarantine(spark):
    """The q161 parity row only proves recovery if the rebuilt window's
    register mass really lives in ``_late/``: pin that the live log is
    clean of every pre-horizon window, the quarantine holds the Jan 10
    registers, and the horizon file says Jan 15 — otherwise a broken
    ensure that leaked pre-horizon rows into the live log would still
    hash-match the oracle."""
    from cosmo_spark.queries.timeseries import (
        _Q161_HORIZON,
        _Q161_WIN,
        ensure_hll_quarantine_log,
    )

    log = ensure_hll_quarantine_log(spark, "/root/testdata/sf0.001")
    live = spark.read.schema(sk.HLLW_SCHEMA).parquet(log)
    assert live.filter(F.col("win") < F.lit(_Q161_HORIZON)).count() == 0
    assert live.count() > 0
    q = sk.read_late_quarantine(spark, log, sk.HLLW_SCHEMA)
    assert q.filter(F.col("win") == F.lit(_Q161_WIN)).count() > 0
    assert q.filter(F.col("win") >= F.lit(_Q161_HORIZON)).count() == 0
    import datetime as _dt

    assert sk.read_eviction_horizon(log) == _dt.datetime.strptime(
        _Q161_HORIZON, "%Y-%m-%d %H:%M:%S"
    )


# --------------------------------------------------------------------------- #
# round-12: rebuild-to-NEW-log recovery (r11 verdict #5)                       #
# --------------------------------------------------------------------------- #
#
# rebuild_log materializes a FRESH windowed log from live + quarantine for
# a WIDENED horizon.  Gates, per algebra: the new log's windowed reads
# equal from-scratch batch sketches over ALL events (including the window
# that lived only in quarantine); the new log's horizon is the widened
# value; the SOURCE log tree — registers, horizon marker, quarantine — is
# byte-identical afterwards.


def _tree_digest(root):
    import hashlib
    import os

    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _rebuild_log_case(spark, tmp_path, kind, schema_str, start_fn, log):
    """FEB live, JAN entirely in quarantine (early eviction decree), then
    rebuild to a new log at the widened horizon JAN."""
    src = tmp_path / "in"
    src.mkdir()
    _write_batch(src, "b1.json", B_FEB)
    start_fn(spark.readStream.schema(SCHEMA).json(str(src))).awaitTermination(120)
    sk.expire_windows(spark, log, kind, older_than=FEB)
    half = len(B_JAN) // 2
    _write_batch(src, "b2.json", B_JAN[:half])
    start_fn(spark.readStream.schema(SCHEMA).json(str(src))).awaitTermination(120)
    _write_batch(src, "b3.json", B_JAN[half:])
    start_fn(spark.readStream.schema(SCHEMA).json(str(src))).awaitTermination(120)

    before = _tree_digest(log)
    dest = str(tmp_path / "rebuilt")
    sk.rebuild_log(spark, log, dest, kind, older_than=JAN)

    # source untouched, byte for byte (registers, horizon, quarantine)
    assert _tree_digest(log) == before
    assert sk.read_eviction_horizon(log) == FEB
    # the new log carries the WIDENED horizon from birth
    assert sk.read_eviction_horizon(dest) == JAN
    return dest


def test_hll_rebuild_log_from_quarantine(spark, tmp_path):
    from cosmo_spark.operators.sketches import hll_registers

    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    dest = _rebuild_log_case(
        spark, tmp_path, "hll", sk.HLLW_SCHEMA,
        lambda s: sk.stream_hll_registers_windowed(
            s, "source", "text", "ts", log, ckpt),
        log,
    )

    def batch(rows):
        return sorted(
            map(tuple, hll_registers(_docs(spark, rows), ["key"], "text")
                .select("key", "bucket", "rho").collect())
        )

    got_jan = sorted(map(tuple, sk.read_hll_registers_windowed(
        spark, dest, until=FEB).collect()))
    got_feb = sorted(map(tuple, sk.read_hll_registers_windowed(
        spark, dest, since=FEB).collect()))
    got_all = sorted(map(tuple, sk.read_hll_registers_windowed(
        spark, dest).collect()))
    assert got_jan == batch(B_JAN)
    assert got_feb == batch(B_FEB)
    assert got_all == batch(B_JAN + B_FEB)

    # the new log is a first-class log: a maintainer pointed at it (fresh
    # checkpoint) diverts a pre-JAN laggard to the NEW quarantine
    src2 = tmp_path / "in2"
    src2.mkdir()
    _write_batch(src2, "b1.json",
                 [("web", "dec laggard", "2023-12-15T10:00:00")])
    sk.stream_hll_registers_windowed(
        spark.readStream.schema(SCHEMA).json(str(src2)),
        "source", "text", "ts", dest, str(tmp_path / "ck2"),
    ).awaitTermination(120)
    assert sk.read_late_quarantine(spark, dest, sk.HLLW_SCHEMA).count() > 0
    assert got_all == sorted(map(tuple, sk.read_hll_registers_windowed(
        spark, dest).collect()))          # laggard did NOT enter live


def test_cms_rebuild_log_from_quarantine(spark, tmp_path):
    from cosmo_spark.functions.text import poly_hash, tokenize
    from cosmo_spark.operators.sketches import cms_counters

    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    dest = _rebuild_log_case(
        spark, tmp_path, "cms", sk.CMSW_SCHEMA,
        lambda s: sk.stream_cms_counters_windowed(s, "text", "ts", log, ckpt),
        log,
    )

    def batch(rows):
        tokh = _docs(spark, rows).filter(F.col("text").isNotNull()).select(
            F.explode(tokenize(F.col("text"))).alias("tok")
        ).select(poly_hash(F.col("tok")).alias("th"))
        return sorted(
            map(tuple, cms_counters(tokh).select("r", "bucket", "cnt")
                .collect())
        )

    assert sorted(map(tuple, sk.read_cms_counters_windowed(
        spark, dest, until=FEB).collect())) == batch(B_JAN)
    assert sorted(map(tuple, sk.read_cms_counters_windowed(
        spark, dest, since=FEB).collect())) == batch(B_FEB)
    assert sorted(map(tuple, sk.read_cms_counters_windowed(
        spark, dest).collect())) == batch(B_JAN + B_FEB)


def test_kmv_rebuild_log_from_quarantine(spark, tmp_path):
    from cosmo_spark.functions.text import poly_hash
    from cosmo_spark.operators.sketches import kmv_k_smallest

    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    dest = _rebuild_log_case(
        spark, tmp_path, "kmv", sk.KMVW_SCHEMA,
        lambda s: sk.stream_kmv_values_windowed(
            s, "source", "text", "ts", log, ckpt),
        log,
    )

    def batch(rows):
        hs = (
            _docs(spark, rows).filter(F.col("text").isNotNull())
            .select("key", poly_hash(F.col("text")).alias("h"))
            .distinct()
        )
        return sorted(
            map(tuple, kmv_k_smallest(hs, ["key"]).select("key", "h")
                .collect())
        )

    assert sorted(map(tuple, sk.read_kmv_values_windowed(
        spark, dest, until=FEB).collect())) == batch(B_JAN)
    assert sorted(map(tuple, sk.read_kmv_values_windowed(
        spark, dest, since=FEB).collect())) == batch(B_FEB)
    assert sorted(map(tuple, sk.read_kmv_values_windowed(
        spark, dest).collect())) == batch(B_JAN + B_FEB)


def test_hdr_rebuild_log_from_quarantine(spark, tmp_path):
    from cosmo_spark.operators.sketches import hdr_bucket_spark_sql

    jan_vals = [0.5, 2.0, 47.0, 100.0, 12345.678]
    feb_vals = [1.5, 8.0, 8.0, 999.25]
    src = tmp_path / "in"
    src.mkdir()

    def write_vals(name, rows):
        with open(src / name, "w") as f:
            for k, v, ts in rows:
                f.write(json.dumps({"source": k, "value": v, "ts": ts}) + "\n")

    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema(
            "source STRING, value DOUBLE, ts TIMESTAMP"
        ).json(str(src))
        sk.stream_hdr_buckets_windowed(
            stream, "source", "value", "ts", log, ckpt
        ).awaitTermination(120)

    write_vals("b1.json", [("s", v, "2024-02-01T11:00:00") for v in feb_vals])
    run()
    sk.expire_windows(spark, log, "hdr", older_than=FEB)
    write_vals("b2.json", [("s", v, "2024-01-01T08:00:00") for v in jan_vals[:2]])
    run()
    write_vals("b3.json", [("s", v, "2024-01-01T08:30:00") for v in jan_vals[2:]])
    run()

    before = _tree_digest(log)
    dest = str(tmp_path / "rebuilt")
    sk.rebuild_log(spark, log, dest, "hdr", older_than=JAN)
    assert _tree_digest(log) == before
    assert sk.read_eviction_horizon(dest) == JAN

    def batch(vals):
        return sorted(map(tuple, (
            spark.createDataFrame([(v,) for v in vals], "value DOUBLE")
            .select(F.expr("cast(floor(value * 1000000.0) as bigint)")
                    .alias("mic"))
            .select(F.expr(hdr_bucket_spark_sql("mic")).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit("s").alias("key"), "bucket", "cnt")
        ).collect()))

    assert sorted(map(tuple, sk.read_hdr_buckets_windowed(
        spark, dest, until=FEB).collect())) == batch(jan_vals)
    assert sorted(map(tuple, sk.read_hdr_buckets_windowed(
        spark, dest, since=FEB).collect())) == batch(feb_vals)
    assert sorted(map(tuple, sk.read_hdr_buckets_windowed(
        spark, dest).collect())) == batch(jan_vals + feb_vals)


def test_rebuild_log_validation(spark, tmp_path):
    import pytest

    log, ckpt = str(tmp_path / "log"), str(tmp_path / "ck")
    src = tmp_path / "in"
    src.mkdir()
    _write_batch(src, "b1.json", B_FEB)
    sk.stream_hll_registers_windowed(
        spark.readStream.schema(SCHEMA).json(str(src)),
        "source", "text", "ts", log, ckpt,
    ).awaitTermination(120)
    sk.expire_windows(spark, log, "hll", older_than=FEB)

    # narrowing is expire_windows' job, not a rebuild
    with pytest.raises(ValueError, match="WIDENING"):
        sk.rebuild_log(spark, log, str(tmp_path / "d1"), "hll",
                       older_than=datetime(2024, 3, 1))
    # dest must be fresh
    sk.rebuild_log(spark, log, str(tmp_path / "d2"), "hll", older_than=JAN)
    with pytest.raises(ValueError, match="already exists"):
        sk.rebuild_log(spark, log, str(tmp_path / "d2"), "hll",
                       older_than=JAN)
    with pytest.raises(ValueError, match="unknown kind"):
        sk.rebuild_log(spark, log, str(tmp_path / "d3"), "bogus",
                       older_than=JAN)
