"""Streaming sketch maintenance: the incrementally-maintained state must
be BIT-IDENTICAL to a from-scratch batch computation over the same
documents (the q105 stream-twin discipline applied to q107/q108/q110/q143's
machinery), across micro-batches, restarts, retries (idempotent max /
union, deduped sums), and compaction.

Every log is bucketed by event-time window; the all-time sketch is the
windowed read with both horizon sides open, and it must equal the batch
sketch over every row that has an event time (the rows here are spread
over three days, so that read merges across windows).  Compaction is
``expire_windows`` with a horizon at the earliest window: it drops
nothing and rewrites the log to its merged minimum."""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from cosmo_spark.streaming import sketches as sk

#: the rows' days; a horizon AT the first one expires nothing
DAYS = ("2024-01-01T08:00:00", "2024-01-02T09:00:00", "2024-01-03T10:00:00")
FIRST_DAY = datetime(2024, 1, 1)


def _ts(i: int) -> str:
    return DAYS[i % len(DAYS)]


def _write_batch(src, name, docs):
    with open(src / name, "w") as f:
        for i, (key, text) in enumerate(docs):
            f.write(json.dumps(
                {"source": key, "text": text, "ts": _ts(i)}
            ) + "\n")


def _stream(spark, src):
    return spark.readStream.schema(
        "source STRING, text STRING, ts TIMESTAMP"
    ).json(str(src))


def _run(spark, src, ckpt, regs):
    q = sk.stream_hll_registers_windowed(
        _stream(spark, src), "source", "text", "ts", str(regs), str(ckpt)
    )
    assert q.awaitTermination(120)


def test_stream_registers_equal_batch_recompute(spark, tmp_path):
    from cosmo_spark.operators.sketches import hll_estimate, hll_registers

    src = tmp_path / "in"
    src.mkdir()
    ckpt, regs = tmp_path / "ck", tmp_path / "regs"

    b1 = [("web", f"doc {i}") for i in range(40)] + [("wiki", "alpha")]
    b2 = (
        [("web", f"doc {i}") for i in range(20, 60)]  # 20 overlap
        + [("wiki", "beta"), ("wiki", None), ("wiki", "alpha")]
    )
    _write_batch(src, "b1.json", b1)
    _run(spark, src, ckpt, regs)
    # batch 2 lands in a SECOND run against the same checkpoint: the
    # maintainer resumes and only processes the new file
    _write_batch(src, "b2.json", b2)
    _run(spark, src, ckpt, regs)

    all_docs = spark.createDataFrame(
        [d for d in b1 + b2], "source STRING, text STRING"
    ).withColumnRenamed("source", "key")
    expected = {
        (r.key, r.bucket): r.rho
        for r in hll_registers(all_docs, ["key"], "text").collect()
    }

    def got():
        return {
            (r.key, r.bucket): r.rho
            for r in sk.read_hll_registers_windowed(spark, str(regs))
            .collect()
        }

    assert got() == expected, "incremental merge must equal batch recompute"

    # dashboard estimates: shared estimator, small-range correction live —
    # wiki has 2 distinct texts, so its corrected estimate is ~exact
    def ests():
        return {
            r.key: r.est
            for r in sk.hll_distinct_estimates_windowed(spark, str(regs))
            .collect()
        }

    batch_ests = {
        r.key: r.est
        for r in hll_estimate(
            hll_registers(all_docs, ["key"], "text"), ["key"]
        ).collect()
    }
    streamed = ests()
    assert streamed == batch_ests
    assert streamed["wiki"] == pytest.approx(2.0, rel=0.15)

    # retry idempotence: re-appending a batch's registers (what a crashed
    # foreachBatch retry does) must not change the merged state
    spark.read.parquet(str(regs)).limit(50).write.mode("append").parquet(
        str(regs)
    )
    assert got() == expected

    # compaction: same merged state, log shrunk to <= keys x days x m rows
    n_before = spark.read.parquet(str(regs)).count()
    sk.expire_windows(spark, str(regs), "hll", older_than=FIRST_DAY)
    assert got() == expected
    assert spark.read.parquet(str(regs)).count() <= min(
        n_before, 2 * len(DAYS) * 256
    )
    assert ests() == batch_ests


def test_stream_cms_counters_equal_batch_and_dedupe_retries(spark, tmp_path):
    """The additive sketch's streaming twin: counters maintained across
    micro-batches equal a from-scratch batch recompute; a replayed
    batch's duplicate appends (same batch_id) are deduped, NOT
    double-counted — the algebra difference vs HLL's idempotent max."""
    from pyspark.sql import functions as F

    from cosmo_spark.functions.text import poly_hash, tokenize
    from cosmo_spark.operators.sketches import cms_probe_rows
    from cosmo_spark.queries.misc import _CMS_P, _CMS_ROWS, _CMS_W

    src = tmp_path / "in"
    src.mkdir()
    ckpt, ctr = tmp_path / "ck", tmp_path / "ctr"
    b1 = [("s", "the quick fox jumps"), ("s", "the lazy dog")]
    b2 = [("s", "the fox sleeps"), ("s", None)]
    _write_batch(src, "b1.json", b1)

    def run():
        q = sk.stream_cms_counters_windowed(
            _stream(spark, src), "text", "ts", str(ctr), str(ckpt)
        )
        assert q.awaitTermination(120)

    run()
    _write_batch(src, "b2.json", b2)
    run()

    # batch recompute of the counters over all docs
    docs = spark.createDataFrame(b1 + b2, "source STRING, text STRING")
    tokh = docs.filter(F.col("text").isNotNull()).select(
        F.explode(tokenize(F.col("text"))).alias("tok")
    ).select(poly_hash(F.col("tok")).alias("th"))
    rb = F.explode(F.array(*[
        F.struct(
            F.lit(i).alias("r"),
            (((F.col("th") * a + b) % _CMS_P) % _CMS_W).alias("bucket"),
        )
        for i, (a, b) in enumerate(_CMS_ROWS)
    ])).alias("rb")
    expected = {
        (r.r, r.bucket): r.cnt
        for r in tokh.select(rb).groupBy(
            F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket")
        ).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }

    def got():
        return {
            (r.r, r.bucket): r.cnt
            for r in sk.read_cms_counters_windowed(spark, str(ctr)).collect()
        }

    assert got() == expected

    # 'the' appears 3x, 'fox' 2x, 'dog' 1x, 'cat' never (min-over-rows
    # never underestimates; on this tiny stream collisions are absent) —
    # q108's probe estimator over the streaming-maintained counters
    toks = spark.createDataFrame(
        [(t,) for t in ("the", "fox", "dog", "cat")], "token STRING"
    ).select("token", poly_hash(F.col("token")).alias("th"))
    ests = {
        r.token: r.cms_est
        for r in cms_probe_rows(toks, ["token"])
        .join(F.broadcast(sk.read_cms_counters_windowed(spark, str(ctr))),
              ["r", "bucket"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
        .collect()
    }
    assert ests == {"the": 3, "fox": 2, "dog": 1, "cat": 0}

    # a replayed batch re-appends IDENTICAL rows under the same batch_id:
    # merged counters must not change (dedupe-then-sum)
    log = spark.read.parquet(str(ctr))
    log.filter(F.col("batch_id") == 0).write.mode("append").parquet(str(ctr))
    assert got() == expected, "retried appends must dedupe, not double-count"


def test_stream_kmv_values_equal_batch_and_survive_compaction(spark, tmp_path):
    """The set-union sketch's streaming twin: per-key k smallest hashes
    maintained across micro-batches equal a from-scratch batch build;
    retried appends are absorbed by distinct (idempotent union, like
    HLL's max); compaction preserves the merged sketch and estimates."""
    from pyspark.sql import functions as F

    from cosmo_spark.functions.text import poly_hash
    from cosmo_spark.operators.sketches import (
        KMV_K,
        kmv_estimate,
        kmv_k_smallest,
    )

    src = tmp_path / "in"
    src.mkdir()
    ckpt, vals = tmp_path / "ck", tmp_path / "vals"

    # web: 300 distinct values across two overlapping batches (beyond
    # k=64, exercising the estimator branch); wiki: 3 (exact branch).
    # Values are hashed whole.
    b1 = [("web", f"tok{i}") for i in range(0, 180)]
    b2 = [("web", f"tok{i}") for i in range(120, 300)] + [
        ("wiki", "alpha"),
        ("wiki", "beta"),
        ("wiki", None),
        ("wiki", "alpha"),
        ("wiki", "gamma"),
    ]

    def run():
        assert sk.stream_kmv_values_windowed(
            _stream(spark, src), "source", "text", "ts", str(vals), str(ckpt)
        ).awaitTermination(120)

    _write_batch(src, "b1.json", b1)
    run()
    _write_batch(src, "b2.json", b2)
    run()

    hs = (
        spark.createDataFrame(b1 + b2, "key STRING, text STRING")
        .filter(F.col("text").isNotNull())
        .select("key", poly_hash(F.col("text")).alias("h"))
        .distinct()
    )
    expected = {
        (r.key, r.h) for r in kmv_k_smallest(hs, ["key"]).collect()
    }

    def got():
        return {
            (r.key, r.h)
            for r in sk.read_kmv_values_windowed(spark, str(vals)).collect()
        }

    def ests():
        return {
            r.key: (r.n_sk, r.est)
            for r in kmv_estimate(
                sk.read_kmv_values_windowed(spark, str(vals)), ["key"]
            ).collect()
        }

    assert got() == expected, "incremental union must equal batch build"

    batch_ests = {
        r.key: (r.n_sk, r.est)
        for r in kmv_estimate(kmv_k_smallest(hs, ["key"]), ["key"]).collect()
    }
    streamed = ests()
    assert streamed == batch_ests
    assert streamed["wiki"] == (3, 3.0)            # exact branch below k
    assert streamed["web"][0] == KMV_K             # estimator branch at k
    # accuracy is loose here by design: sequential "tokN" strings are not
    # uniform under the 31-base poly hash (estimator quality is certified
    # by q110's oracle on corpus text); this guards the BRANCH, not the
    # error bound
    assert streamed["web"][1] > 2 * KMV_K

    # retry idempotence: re-appending sketch rows changes nothing
    spark.read.parquet(str(vals)).limit(40).write.mode("append").parquet(
        str(vals)
    )
    assert got() == expected

    # compaction: merged state identical, log bounded by keys x days x k
    n_before = spark.read.parquet(str(vals)).count()
    sk.expire_windows(spark, str(vals), "kmv", older_than=FIRST_DAY)
    assert got() == expected
    assert spark.read.parquet(str(vals)).count() <= min(
        n_before, 2 * len(DAYS) * KMV_K
    )
    assert ests() == batch_ests


def test_kmv_estimate_numerator_follows_k(spark):
    """advice r7: the estimator numerator must scale with the k PARAMETER
    ((k-1)*P/h_k), not the module constant — a k=32 sketch over >32
    distinct hashes previously returned estimates scaled by the wrong
    (KMV_K-1).  The exact branch below k is k-sensitive too."""
    from cosmo_spark.operators.sketches import (
        KMV_P,
        kmv_estimate,
        kmv_k_smallest,
    )

    rows = [("a", (i * 2654435761) % KMV_P) for i in range(1, 201)]
    hs = spark.createDataFrame(rows, "key STRING, h BIGINT")
    got = kmv_estimate(kmv_k_smallest(hs, ["key"], k=32), ["key"], k=32) \
        .collect()[0]
    hk = sorted(h for _, h in rows)[31]
    assert got.n_sk == 32
    assert abs(got.est - (31 * KMV_P) / hk) < 1e-6

    small = spark.createDataFrame(rows[:5], "key STRING, h BIGINT")
    ex = kmv_estimate(kmv_k_smallest(small, ["key"], k=32), ["key"], k=32) \
        .collect()[0]
    assert (ex.n_sk, ex.est) == (5, 5.0)


def test_stream_hdr_buckets_equal_batch_and_quantile_band(spark, tmp_path):
    """The additive QUANTILE sketch's streaming twin: HDR bucket counts
    maintained across micro-batches equal a from-scratch batch build;
    retried appends dedupe per batch_id; compaction (crash-atomic
    rotation) preserves state; and every quantile estimate brackets the
    true percentile within the geometry's 1/64 relative band."""
    from pyspark.sql import functions as F

    from cosmo_spark.operators.sketches import hdr_bucket_spark_sql

    src = tmp_path / "in"
    src.mkdir()
    ckpt, log = str(tmp_path / "ck"), str(tmp_path / "log")
    vals1 = [0.000001 * (3 ** i) for i in range(1, 12)]      # spans octaves
    vals2 = [1.5, 2.25, 47.0, 47.0, 12345.678, 0.25]
    b1 = [("s", v) for v in vals1] + [("t", 1.0)]
    b2 = [("s", v) for v in vals2] + [("s", None), ("s", -5.0), ("t", 8.0)]

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for i, (k, v) in enumerate(rows):
                f.write(json.dumps(
                    {"source": k, "value": v, "ts": _ts(i)}
                ) + "\n")

    def run():
        stream = spark.readStream.schema(
            "source STRING, value DOUBLE, ts TIMESTAMP"
        ).json(str(src))
        assert sk.stream_hdr_buckets_windowed(
            stream, "source", "value", "ts", log, ckpt
        ).awaitTermination(120)

    write_batch("b1.json", b1)
    run()
    write_batch("b2.json", b2)
    run()

    # batch recompute over all rows
    all_rows = spark.createDataFrame(b1 + b2, "source STRING, value DOUBLE")
    batch = (
        all_rows.filter(F.col("value").isNotNull() & (F.col("value") > 0))
        .select(
            F.col("source").alias("key"),
            F.expr("cast(floor(value * 1000000.0) as bigint)").alias("mic"),
        )
        .select("key", F.expr(hdr_bucket_spark_sql("mic")).alias("bucket"))
        .groupBy("key", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    )
    expected = {(r.key, r.bucket): r.cnt for r in batch.collect()}
    def got():
        return {
            (r.key, r.bucket): r.cnt
            for r in sk.read_hdr_buckets_windowed(spark, log).collect()
        }

    assert got() == expected, "incremental counts must equal batch build"

    # retried appends (same batch_id) dedupe, never double-count
    raw = spark.read.parquet(log)
    raw.filter(F.col("batch_id") == 0).write.mode("append").parquet(log)
    assert got() == expected

    # compaction through the crash-atomic rotation: state preserved;
    # committed batches fold into the sentinel, the newest keeps its
    # identity for replay dedupe (review r8)
    sk.expire_windows(spark, log, "hdr", older_than=FIRST_DAY)
    assert got() == expected
    assert {r.batch_id for r in
            spark.read.parquet(log).select("batch_id").distinct().collect()} \
        == {-1, 1}

    # quantile estimates bracket the true percentiles: est <= true <=
    # est * (1 + 1/32) (two sub-bucket widths of slack over the 1/64 band)
    svals = sorted(v for v in vals1 + vals2)
    n = len(svals)
    ests = {
        (r.key, r.quantile): r.est_value
        for r in sk.hdr_quantile_estimates_windowed(spark, log).collect()
    }
    for q in (50, 90, 99):
        true = next(v for i, v in enumerate(svals, 1) if 100 * i >= q * n)
        est = ests[("s", q)]
        assert est <= true + 1e-9, (q, est, true)
        assert true <= est * (1 + 1 / 32) + 2e-6, (q, est, true)


def test_q146_horizon_read_survives_eviction(spark, tmp_path, monkeypatch):
    """Round-9 #5 gate: the catalog horizon read (q146) answers from the
    windowed register log; expiring every pre-horizon window through the
    crash-atomic rotation leaves the answer BIT-IDENTICAL, and afterwards
    the full (horizon-free) register read equals the horizon read — the
    evidence that eviction removed exactly the out-of-horizon state."""
    import datetime as dt

    import cosmo_spark.queries.timeseries as tsq
    from cosmo_spark.queries import all_queries
    from cosmo_spark.streaming.sketches import (
        expire_windows,
        hdr_quantile_estimates_windowed,
    )

    monkeypatch.setattr(
        tsq, "_hdr_window_log_dir", lambda sf_dir: str(tmp_path / "hdrw")
    )
    q = all_queries()["q146_hdr_horizon"]
    sf = "/root/testdata/sf0.001"
    before = sorted(tuple(r) for r in q.spark_fn(spark, sf).collect())
    assert before, "horizon read must produce estimates"

    cutoff = dt.datetime.strptime(tsq._Q146_SINCE, "%Y-%m-%d %H:%M:%S")
    log = str(tmp_path / "hdrw" / "log")
    expire_windows(spark, log, "hdr", older_than=cutoff)

    after = sorted(tuple(r) for r in q.spark_fn(spark, sf).collect())
    assert after == before, "eviction of pre-horizon windows changed the answer"

    full = sorted(
        tuple(r) for r in hdr_quantile_estimates_windowed(spark, log)
        .select("key", "quantile", "est_value", "n").collect()
    )
    horizon = sorted(
        tuple(r) for r in
        hdr_quantile_estimates_windowed(spark, log, since=cutoff)
        .select("key", "quantile", "est_value", "n").collect()
    )
    assert full == horizon, "post-eviction log must hold ONLY in-horizon state"


def test_q147_hll_horizon_survives_eviction(spark, tmp_path, monkeypatch):
    """Distinct-count twin of the q146 eviction gate: expiring every
    pre-horizon HLL window leaves the horizon estimate bit-identical and
    the full register read equal to the horizon read."""
    import datetime as dt

    import cosmo_spark.queries.timeseries as tsq
    from cosmo_spark.queries import all_queries
    from cosmo_spark.streaming.sketches import (
        expire_windows,
        hll_distinct_estimates_windowed,
    )

    monkeypatch.setattr(
        tsq, "_hll_window_log_dir", lambda sf_dir: str(tmp_path / "hllw")
    )
    q = all_queries()["q147_hll_horizon"]
    sf = "/root/testdata/sf0.001"
    before = sorted(tuple(r) for r in q.spark_fn(spark, sf).collect())
    assert before

    cutoff = dt.datetime.strptime(tsq._Q146_SINCE, "%Y-%m-%d %H:%M:%S")
    log = str(tmp_path / "hllw" / "log")
    expire_windows(spark, log, "hll", older_than=cutoff)

    after = sorted(tuple(r) for r in q.spark_fn(spark, sf).collect())
    assert after == before

    full = sorted(
        tuple(r) for r in hll_distinct_estimates_windowed(spark, log)
        .collect()
    )
    horizon = sorted(
        tuple(r) for r in
        hll_distinct_estimates_windowed(spark, log, since=cutoff).collect()
    )
    assert full == horizon


def test_q152_cms_horizon_survives_eviction(spark, tmp_path, monkeypatch):
    """Heavy-hitter twin of the q146/q147 eviction gates: expiring every
    pre-horizon CMS window leaves the horizon estimates bit-identical
    (the additive merge never touches expired windows), and the
    post-eviction full read equals the horizon read."""
    import datetime as dt

    import cosmo_spark.queries.timeseries as tsq
    from cosmo_spark.queries import all_queries
    from cosmo_spark.streaming.sketches import (
        expire_windows,
        read_cms_counters_windowed,
    )

    monkeypatch.setattr(
        tsq, "_cms_window_log_dir", lambda sf_dir: str(tmp_path / "cmsw")
    )
    q = all_queries()["q152_cms_horizon"]
    sf = "/root/testdata/sf0.001"
    before = sorted(tuple(r) for r in q.spark_fn(spark, sf).collect())
    assert before

    cutoff = dt.datetime.strptime(tsq._Q146_SINCE, "%Y-%m-%d %H:%M:%S")
    log = str(tmp_path / "cmsw" / "log")
    expire_windows(spark, log, "cms", older_than=cutoff)

    after = sorted(tuple(r) for r in q.spark_fn(spark, sf).collect())
    assert after == before

    full = sorted(
        tuple(r)
        for r in read_cms_counters_windowed(spark, log).collect()
    )
    horizon = sorted(
        tuple(r)
        for r in read_cms_counters_windowed(spark, log, since=cutoff)
        .collect()
    )
    assert full == horizon


def test_q154_kmv_horizon_survives_eviction(spark, tmp_path, monkeypatch):
    """Set-algebra member of the horizon eviction gates: expiring every
    pre-horizon KMV window leaves per-key, union, and intersection
    estimates bit-identical, and the post-eviction full read equals the
    horizon read."""
    import datetime as dt

    import cosmo_spark.queries.timeseries as tsq
    from cosmo_spark.queries import all_queries
    from cosmo_spark.streaming.sketches import (
        expire_windows,
        read_kmv_values_windowed,
    )

    monkeypatch.setattr(
        tsq, "_kmv_window_log_dir", lambda sf_dir: str(tmp_path / "kmvw")
    )
    q = all_queries()["q154_kmv_horizon"]
    sf = "/root/testdata/sf0.001"
    before = sorted(tuple(r) for r in q.spark_fn(spark, sf).collect())
    assert before

    cutoff = dt.datetime.strptime(tsq._Q146_SINCE, "%Y-%m-%d %H:%M:%S")
    log = str(tmp_path / "kmvw" / "log")
    expire_windows(spark, log, "kmv", older_than=cutoff)

    after = sorted(tuple(r) for r in q.spark_fn(spark, sf).collect())
    assert after == before

    full = sorted(
        tuple(r)
        for r in read_kmv_values_windowed(spark, log).collect()
    )
    horizon = sorted(
        tuple(r)
        for r in read_kmv_values_windowed(spark, log, since=cutoff)
        .collect()
    )
    assert full == horizon
