"""Operator-level tests with hand-computed frames (ref test strategy layer 1,
SURVEY.md §5)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from cosmo_spark.operators.asof import asof_join
from cosmo_spark.operators.describe import describe_by
from cosmo_spark.operators.histogram import histogram, quantile_cuts
from cosmo_spark.operators.merge import merge_versioned
from cosmo_spark.operators.outliers import sigma_outliers
from cosmo_spark.operators.segment_diff import segment_diff
from cosmo_spark.operators.topk import latest_per_key
from cosmo_spark.operators.windows import boxcar, cumulative, rolling_time_mean


def ts(s):
    return datetime.datetime.fromisoformat(s)


def test_asof_backward(spark):
    series = spark.createDataFrame(
        [(1, ts("2024-01-01T00:00:10"), 1.0), (1, ts("2024-01-01T00:00:20"), 2.0)],
        "k INT, t TIMESTAMP, v DOUBLE",
    )
    probes = spark.createDataFrame(
        [(1, ts("2024-01-01T00:00:05"), "a"),
         (1, ts("2024-01-01T00:00:10"), "b"),   # equal time -> takes the 10s row
         (1, ts("2024-01-01T00:00:15"), "c"),
         (1, ts("2024-01-01T00:00:25"), "d"),
         (2, ts("2024-01-01T00:00:15"), "e")],  # key with no series -> NULL
        "k INT, t TIMESTAMP, tag STRING",
    )
    out = {
        r.tag: r.v
        for r in asof_join(probes, series, on="k", time_col="t", value_cols=["v"]).collect()
    }
    assert out == {"a": None, "b": 1.0, "c": 1.0, "d": 2.0, "e": None}


def test_asof_forward(spark):
    series = spark.createDataFrame(
        [(1, ts("2024-01-01T00:00:10"), 1.0), (1, ts("2024-01-01T00:00:20"), 2.0)],
        "k INT, t TIMESTAMP, v DOUBLE",
    )
    probes = spark.createDataFrame(
        [(1, ts("2024-01-01T00:00:15"), "a"), (1, ts("2024-01-01T00:00:25"), "b")],
        "k INT, t TIMESTAMP, tag STRING",
    )
    out = {
        r.tag: r.v
        for r in asof_join(
            probes, series, on="k", time_col="t", value_cols=["v"], direction="forward"
        ).collect()
    }
    assert out == {"a": 2.0, "b": None}


def test_segment_diff(spark):
    # ref: compute_segment_diff pairs FUVA with FUVB per rootname per flash
    # (osm_shift_monitors.py:55-86)
    df = spark.createDataFrame(
        [
            ("r1", ["FUVA", "FUVB", "FUVA", "FUVB"], [1.0, 0.5, 2.0, 1.0],
             [0.0, 0.0, 25.0, 25.0]),
        ],
        "ROOTNAME STRING, SEGMENT ARRAY<STRING>, SHIFT_DISP ARRAY<DOUBLE>, TIME ARRAY<DOUBLE>",
    )
    # explode -> flash_idx within exposure; FUVA rows at idx 0,2; FUVB at 1,3.
    # pairing key must be the *flash* so re-key by (ROOTNAME, TIME) group:
    # here we use the generic long-form path
    from cosmo_spark.functions.arrays import explode_zip

    long = explode_zip(df, ["SEGMENT", "SHIFT_DISP", "TIME"], index_col="pos")
    long = long.withColumn(
        "flash_idx", F.floor(F.col("pos") / 2)
    )
    out = segment_diff(
        long, ["ROOTNAME"], "SEGMENT", "SHIFT_DISP", "FUVA", "FUVB"
    ).orderBy("flash_idx").collect()
    assert [r.seg_diff for r in out] == [0.5, 1.0]
    assert all(r.segment_pair == "FUVA-FUVB" for r in out)


def test_merge_versioned_supersede_and_idempotence(spark):
    # ref semantics: newer VERSION supersedes; equal version no-op; new keys
    # insert (cosmo/sms/ingest_sms.py:154-198; tests/test_sms_ingest.py:98-146)
    current = spark.createDataFrame(
        [("s1", "b4", "old"), ("s2", "a1", "keep")], "SMSID STRING, VERSION STRING, payload STRING"
    )
    updates = spark.createDataFrame(
        [("s1", "c2", "new"),     # supersedes b4 (lexicographic)
         ("s1", "a9", "stale"),   # older than c2 -> loses
         ("s3", "a1", "insert")],
        "SMSID STRING, VERSION STRING, payload STRING",
    )
    merged = merge_versioned(current, updates, "SMSID", "VERSION")
    state = {r.SMSID: (r.VERSION, r.payload) for r in merged.collect()}
    assert state == {"s1": ("c2", "new"), "s2": ("a1", "keep"), "s3": ("a1", "insert")}

    # idempotence: re-applying the same updates changes nothing
    again = merge_versioned(merged, updates, "SMSID", "VERSION")
    state2 = {r.SMSID: (r.VERSION, r.payload) for r in again.collect()}
    assert state2 == state

    # equal version: existing row wins (no churn)
    tie = spark.createDataFrame(
        [("s2", "a1", "imposter")], "SMSID STRING, VERSION STRING, payload STRING"
    )
    state3 = {
        r.SMSID: (r.VERSION, r.payload)
        for r in merge_versioned(merged, tie, "SMSID", "VERSION").collect()
    }
    assert state3["s2"] == ("a1", "keep")


def test_latest_per_key(spark):
    df = spark.createDataFrame(
        [("a", "b4", 1), ("a", "c2", 2), ("a", "b3", 3), ("b", "a1", 4)],
        "k STRING, version STRING, payload INT",
    )
    # string-max version semantics (ref: docs/source/sms.rst:27-30)
    out = {r.k: r.version for r in latest_per_key(df, "k", ["version"]).collect()}
    assert out == {"a": "c2", "b": "a1"}


def test_describe_by(spark):
    df = spark.createDataFrame(
        [("g", float(x)) for x in range(1, 5)], "g STRING, v DOUBLE"
    )
    row = describe_by(df, ["g"], ["v"]).first()
    assert row["v_count"] == 4
    assert row["v_mean"] == pytest.approx(2.5)
    assert row["v_25%"] == pytest.approx(1.75)
    assert row["v_50%"] == pytest.approx(2.5)
    assert row["v_max"] == 4.0


def test_histogram_and_cuts(spark):
    df = spark.createDataFrame([(float(x),) for x in range(100)], "v DOUBLE")
    h = {r.bin: (r.n, r.cum_n) for r in histogram(df, "v", 25.0).collect()}
    assert h == {0: (25, 25), 1: (25, 50), 2: (25, 75), 3: (25, 100)}
    cuts = quantile_cuts(df, "v", quantiles=(0.95,), sigma_lines=(2.0,)).first()
    assert cuts["p95"] == pytest.approx(94.05)
    assert cuts["median_plus_2sigma"] == pytest.approx(
        49.5 + 2 * 29.011491975882016
    )


def test_sigma_outliers_grouped(spark):
    rows = [("g1", float(v)) for v in [10, 10, 10, 10, 50]] + [("g2", 40.0), ("g2", 60.0)]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = sigma_outliers(df, "v", k=1.5, group_cols=["g"])
    flagged = [(r.g, r.v) for r in out.filter("outlier").collect()]
    assert flagged == [("g1", 50.0)]  # only g1's 50 deviates >= 1.5 sigma in-group


def test_windows_ops(spark):
    df = spark.createDataFrame(
        [(ts("2024-01-01T00:00:00"), 1.0), (ts("2024-01-02T00:00:00"), 3.0),
         (ts("2024-01-10T00:00:00"), 10.0)],
        "t TIMESTAMP, v DOUBLE",
    )
    # 2-day trailing window: second row averages rows 1-2; third stands alone
    out = rolling_time_mean(df, "t", "v", window_seconds=86400 * 2).orderBy("t").collect()
    assert [r.rolling_mean for r in out] == [1.0, 2.0, 10.0]

    cum = cumulative(df, "t", "v").orderBy("t").collect()
    assert [r.cum_sum for r in cum] == [1.0, 4.0, 14.0]

    box = boxcar(df, "t", "v", width=4).orderBy("t").collect()
    # centered width-4: row0 -> rows[-2..1] = (1+3)/2; row1 -> (1+3+10)/3
    assert box[0].smoothed == pytest.approx(2.0)
    assert box[1].smoothed == pytest.approx(14.0 / 3)


def test_srp_lsh_near_dups_identical_vectors(spark):
    """Identical vectors collide in every band; all C(n,2) pairs come back
    with cos_sim 1.0, deduped across bands."""
    from cosmo_spark.operators.dedup import srp_lsh_near_dups
    from cosmo_spark.queries.vectorops import _srp_planes, _SRP_BANDS, _SRP_BITS

    vec = [0.5] * 64
    df = spark.createDataFrame(
        [(i, vec) for i in range(4)], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    out = srp_lsh_near_dups(
        df, "embedding", "vec_id", _srp_planes(),
        bands=_SRP_BANDS, bits_per_band=_SRP_BITS,
        threshold=0.9, max_bucket=100,
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert pairs == {(a, b) for a in range(4) for b in range(4) if a < b}
    assert all(abs(r.cos_sim - 1.0) < 1e-9 for r in out)


def test_srp_lsh_bucket_guard_trips(spark):
    """A degenerate corpus (mass-identical vectors) overflows its bucket and
    the guard fails the job loudly instead of letting the within-bucket
    self-join go quadratic."""
    from cosmo_spark.operators.dedup import srp_lsh_near_dups
    from cosmo_spark.queries.vectorops import _srp_planes, _SRP_BANDS, _SRP_BITS

    vec = [1.0] * 64
    df = spark.createDataFrame(
        [(i, vec) for i in range(50)], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    out = srp_lsh_near_dups(
        df, "embedding", "vec_id", _srp_planes(),
        bands=_SRP_BANDS, bits_per_band=_SRP_BITS,
        threshold=0.9, max_bucket=10,
    )
    with pytest.raises(Exception, match="max_bucket"):
        out.collect()


def test_srp_lsh_plane_count_validated(spark):
    from cosmo_spark.operators.dedup import srp_lsh_near_dups

    df = spark.createDataFrame([(1, [1.0] * 4)], "vec_id INT, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="planes"):
        srp_lsh_near_dups(
            df, "embedding", "vec_id", [[1, -1, 1, -1]],
            bands=2, bits_per_band=4, threshold=0.5,
        )


class TestBloom:
    def test_bloom_semi_join_equals_exact(self, spark):
        """No false negatives + exact re-check => identical to plain
        left-semi, including on values absent from the filter."""
        from cosmo_spark.operators.bloom import bloom_semi_join

        big = spark.range(0, 5000).selectExpr("id AS k", "id * 2 AS payload")
        keys = spark.range(0, 5000, 7).selectExpr("id AS k")
        got = sorted(r.k for r in bloom_semi_join(big, keys, "k").collect())
        want = sorted(r.k for r in big.join(keys, "k", "left_semi").collect())
        assert got == want and len(got) > 0

    def test_prefilter_drops_most_nonmembers(self, spark):
        """The broadcast bitset must reject the overwhelming majority of
        non-members map-side — that reduction is the whole point."""
        from pyspark.sql import functions as F

        from cosmo_spark.operators.bloom import bloom_build, might_contain

        n_bits, n_hashes = 1 << 16, 4
        keys = spark.range(0, 1000).selectExpr("id AS k")
        bf = bloom_build(keys, "k", n_bits, n_hashes)
        nonmembers = spark.range(100000, 110000).selectExpr("id AS k")
        fp = (
            nonmembers.join(F.broadcast(bf))
            .filter(might_contain("bf", F.col("k"), n_bits, n_hashes))
            .count()
        )
        # m=65536, n=1000, k=4 -> theoretical fp ~ 0.01%; allow 1%
        assert fp < 100, fp

    def test_members_always_hit(self, spark):
        from pyspark.sql import functions as F

        from cosmo_spark.operators.bloom import bloom_build, might_contain

        n_bits, n_hashes = 1 << 14, 4
        keys = spark.range(0, 2000).selectExpr("id AS k")
        bf = bloom_build(keys, "k", n_bits, n_hashes)
        hits = (
            keys.join(F.broadcast(bf))
            .filter(might_contain("bf", F.col("k"), n_bits, n_hashes))
            .count()
        )
        assert hits == 2000


class TestCrossDedup:
    """Incremental (batch-vs-corpus) MinHash dedup: operators.dedup.cross_dedup."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_flags_known_duplicate_and_keeps_novel(self, spark):
        from cosmo_spark.operators.dedup import cross_dedup

        base = "the quick brown fox jumps over the lazy dog again and again"
        corpus = self._docs(spark, [
            (100, base),
            (101, "completely different stored content about spark shuffles"),
        ])
        incoming = self._docs(spark, [
            (1, base),                                  # exact dup of 100
            (2, "totally novel incoming text with unseen words entirely"),
        ])
        out = {
            r["doc_id"]: r
            for r in cross_dedup(incoming, corpus, "text", "doc_id").collect()
        }
        assert not out[1]["kept"] and out[1]["max_jaccard"] == 1.0
        assert out[2]["kept"] and out[2]["n_cand"] == 0
        assert out[2]["max_jaccard"] is None

    def test_every_incoming_doc_reported_even_short_ones(self, spark):
        from cosmo_spark.operators.dedup import cross_dedup

        corpus = self._docs(spark, [(10, "stored corpus text goes here okay")])
        incoming = self._docs(spark, [
            (1, "one two"),   # < shingle_n tokens: no shingles, still reported
            (2, "stored corpus text goes here okay"),
        ])
        out = cross_dedup(incoming, corpus, "text", "doc_id")
        rows = {r["doc_id"]: r for r in out.collect()}
        assert set(rows) == {1, 2}
        assert rows[1]["kept"] and rows[1]["n_cand"] == 0

    def test_reported_jaccard_matches_brute_force(self, spark):
        """Any (incoming, corpus) score cross_dedup reports must equal the
        exact shingle-set Jaccard for that pair (LSH may MISS pairs — it
        must never misreport one)."""
        from cosmo_spark.operators.dedup import (
            cross_dedup,
            ngram_jaccard_pairs,
        )

        rows = [
            (i, f"shared prefix words alpha beta gamma delta doc {i} tail")
            for i in range(8)
        ]
        docs = self._docs(spark, rows)
        incoming = docs.filter(F.col("doc_id") % 2 == 0)
        corpus = docs.filter(F.col("doc_id") % 2 == 1)
        out = cross_dedup(incoming, corpus, "text", "doc_id", threshold=0.5)
        exact = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, "text", "doc_id").collect()
        }
        for r in out.collect():
            if r["max_jaccard"] is None:
                continue
            best = max(
                exact.get((min(r["doc_id"], b), max(r["doc_id"], b)), 0.0)
                for b in range(1, 8, 2)
            )
            assert abs(r["max_jaccard"] - best) < 1e-9


class TestSnapshotDiff:
    def test_all_change_types(self, spark):
        from cosmo_spark.operators.merge import snapshot_diff

        old = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
            "k long, txt string, v long",
        )
        new = spark.createDataFrame(
            [(2, "b", 20),        # unchanged -> dropped
             (3, "c2", 30),       # update
             (4, None, 40),       # null == null -> unchanged
             (5, "e", 50)],       # insert
            "k long, txt string, v long",
        )
        got = {
            r["k"]: r["change_type"]
            for r in snapshot_diff(old, new, "k").collect()
        }
        assert got == {1: "delete", 3: "update", 5: "insert"}

    def test_compare_cols_subset(self, spark):
        from cosmo_spark.operators.merge import snapshot_diff

        old = spark.createDataFrame([(1, "a", 1)], "k long, txt string, v long")
        new = spark.createDataFrame([(1, "a", 2)], "k long, txt string, v long")
        assert snapshot_diff(old, new, "k", ["txt"]).count() == 0
        assert snapshot_diff(old, new, "k", ["v"]).collect()[0]["change_type"] == "update"

    def test_null_field_swap_detected(self, spark):
        """(a=null, b='x') -> (a='x', b=null) must report as update: Spark's
        hash functions skip null struct fields, so a raw xxhash64(struct)
        fingerprint would see both rows as hash('x') under the shifting
        field seed and could miss the move — the to_json fingerprint
        encodes field identity and explicit nulls (round-4 ADVICE)."""
        from cosmo_spark.operators.merge import snapshot_diff

        old = spark.createDataFrame(
            [(1, None, "x"), (2, "y", None)], "k long, a string, b string"
        )
        new = spark.createDataFrame(
            [(1, "x", None), (2, None, "y")], "k long, a string, b string"
        )
        got = {
            r["k"]: r["change_type"]
            for r in snapshot_diff(old, new, "k").collect()
        }
        assert got == {1: "update", 2: "update"}


def test_q78_negative_epoch_bucket_parity(spark):
    """Pre-1970 fractional timestamps: Spark's unix_micros div (truncation)
    must bucket identically to the oracle's trunc(epoch(ts)) — the floor
    variant diverged by one second at e.g. 1969-12-31 23:59:59.5."""
    import datetime

    import duckdb

    rows = [
        (datetime.datetime(1969, 12, 31, 23, 59, 59, 500000),),
        (datetime.datetime(1969, 12, 31, 23, 58, 0, 1),),
        (datetime.datetime(1970, 1, 1, 0, 0, 0, 500000),),
    ]
    df = spark.createDataFrame(rows, "ts timestamp")
    got = [
        r[0]
        for r in df.selectExpr(
            "((unix_micros(ts) div 1000000) div 60) * 60 AS b"
        ).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT (CAST(trunc(epoch(TIMESTAMP '{t[0]}')) AS BIGINT) // 60) * 60"
        ).fetchone()[0]
        for t in rows
    ]
    assert got == want


def test_embedding_near_dups_tolerates_short_and_null_vectors(spark):
    """A truncated or NULL vector must DROP (the old HOF null-semantics),
    not abort the job via ANSI element_at (round-5 review repro)."""
    from cosmo_spark.operators.dedup import embedding_near_dups

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0], 0),
         (2, [1.0, 0.0, 0.0, 0.0], 0),
         (3, [1.0, 0.0], 0),          # truncated
         (4, None, 0)],               # null
        "vec_id LONG, embedding ARRAY<DOUBLE>, label INT",
    )
    out = embedding_near_dups(
        df, "embedding", "vec_id", threshold=0.9, block_col="label", dim=4
    ).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
    # probe path (dim=None) on MIXED lengths must refuse loudly instead of
    # letting an arbitrary row decide which length survives (ADVICE r5)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mixed embedding lengths"):
        embedding_near_dups(
            df, "embedding", "vec_id", threshold=0.9, block_col="label",
        )
    # uniform-length table: probe infers the single distinct length and
    # must not crash on the null row it skipped over
    uni = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0], 0),
         (2, [1.0, 0.0, 0.0, 0.0], 0),
         (4, None, 0)],
        "vec_id LONG, embedding ARRAY<DOUBLE>, label INT",
    )
    out2 = embedding_near_dups(
        uni, "embedding", "vec_id", threshold=0.9, block_col="label",
    ).collect()
    assert [(r.id_a, r.id_b) for r in out2] == [(1, 2)]
    # degenerate probe: ALL vectors null -> empty result, no crash
    allnull = spark.createDataFrame(
        [(1, None, 0), (2, None, 0)],
        "vec_id LONG, embedding ARRAY<DOUBLE>, label INT",
    )
    assert embedding_near_dups(
        allnull, "embedding", "vec_id", threshold=0.9, block_col="label"
    ).count() == 0


# ------------------------------------------------------------------ KMV


def test_kmv_k_smallest_equals_sorted_prefix(spark):
    """Operator-level certification of the shared KMV selection: for a
    mixed-shape distinct (key, h) frame (one key below k, one exactly
    k, one far above with adversarial bucket clustering), the result is
    exactly the per-key sorted prefix."""
    from cosmo_spark.operators.sketches import KMV_K, kmv_k_smallest

    rows = []
    rows += [("tiny", h) for h in (7, 3, 999)]
    rows += [("edge", h) for h in range(1000, 1000 + KMV_K)]
    # "big": 500 values clustered into few hash-range buckets plus a
    # spread tail, so the bucket-cutoff path has to cross bucket edges
    rows += [("big", 10_000 + 2 * i) for i in range(250)]
    rows += [("big", 900_000_000 + 17 * i) for i in range(250)]
    df = spark.createDataFrame(rows, "key string, h long")
    got = {}
    for r in kmv_k_smallest(df, ["key"]).collect():
        got.setdefault(r["key"], []).append(r["h"])
    expected = {}
    for k, h in rows:
        expected.setdefault(k, []).append(h)
    expected = {k: sorted(v)[:KMV_K] for k, v in expected.items()}
    assert {k: sorted(v) for k, v in got.items()} == expected


def test_embedding_near_dups_hot_block_guard_exact_and_bounded(spark):
    """r11 verdict #1: a hot blocking attribute must not land its whole
    block in one reducer.  Gates, on a synthetic hot-label corpus:
    (1) the salted plan's output is EXACTLY the unguarded all-pairs
    result; (2) the join key carries the sub-block salts; (3) the
    triangular fan-out spreads the hot block's pairs over s(s+1)/2 tasks
    with no task holding more than ~max_block**2 candidates."""
    import random

    from pyspark.sql import functions as F

    from cosmo_spark.operators.dedup import embedding_near_dups
    from cosmo_spark.plans.explain import physical_plan

    random.seed(13)
    rows = []
    for i in range(300):                       # ONE hot label
        v = [random.gauss(0, 1) for _ in range(8)]
        rows.append((i, "hot", v))
        if i % 6 == 0:                         # planted near-dups
            rows.append(
                (1000 + i, "hot",
                 [x + random.gauss(0, 0.01) for x in v])
            )
    df = spark.createDataFrame(
        rows, "vec_id LONG, label STRING, embedding ARRAY<DOUBLE>"
    )
    exact = embedding_near_dups(
        df, "embedding", "vec_id", threshold=0.9, block_col="label", dim=8
    )
    guarded = embedding_near_dups(
        df, "embedding", "vec_id", threshold=0.9, block_col="label", dim=8,
        max_block=64,
    )
    ek = sorted((r.id_a, r.id_b, round(r.cos_sim, 9)) for r in exact.collect())
    gk = sorted(
        (r.id_a, r.id_b, round(r.cos_sim, 9)) for r in guarded.collect()
    )
    assert ek == gk and len(ek) >= 50          # exact rewrite, real output

    plan = physical_plan(guarded)
    assert "__i" in plan and "__j" in plan     # salts ARE join keys

    # task-shape audit: replicate the operator's salting arithmetic and
    # count candidate pairs per (i, j) sub-block task
    n = df.count()
    s = -(-n // 64)                            # ceil(n / max_block)
    counts = (
        df.select(
            F.pmod(F.xxhash64("vec_id"), F.lit(s)).alias("u")
        )
        .groupBy("u").count().collect()
    )
    by_u = {r.u: r["count"] for r in counts}
    tasks = {
        (i, j): (
            by_u.get(i, 0) * by_u.get(j, 0)
            if i != j
            else by_u.get(i, 0) * (by_u.get(i, 0) - 1) // 2
        )
        for i in range(s) for j in range(i, s)
    }
    assert len(tasks) == s * (s + 1) // 2
    # no task anywhere near the unguarded n^2/2; generous 2x slack on the
    # per-task bound absorbs hash imbalance
    assert max(tasks.values()) <= 2 * 64 * 64
    assert max(tasks.values()) < (n * (n - 1) // 2) / 4

    # max_block without a blocking column is a loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_block"):
        embedding_near_dups(
            df, "embedding", "vec_id", threshold=0.9, dim=8, max_block=64
        )


def test_embedding_near_dups_hot_kmeans_cluster_guard(spark):
    """r12 verdict #1: the SemDedup failure mode — near-duplicate mass
    collapsing into ONE k-means centroid — must hit the salted path.  The
    corpus here is built so `assign_buckets` (q75's actual blocking stage)
    lands every row in a single hot bucket; gates mirror the hot-label
    test but over the derived-cluster blocking column."""
    import random

    from pyspark.sql import functions as F

    from cosmo_spark.operators.dedup import embedding_near_dups
    from cosmo_spark.operators.similarity import assign_buckets
    from cosmo_spark.plans.explain import physical_plan

    random.seed(29)
    center = [random.gauss(0, 1) for _ in range(8)]
    rows = []
    for i in range(240):                       # everything near ONE centroid
        v = [c + random.gauss(0, 0.15) for c in center]
        rows.append((i, v))
        if i % 5 == 0:
            rows.append((1000 + i, [x + random.gauss(0, 0.01) for x in v]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    centroids = spark.createDataFrame(
        [(0, center), (1, [-c for c in center])],
        "bucket INT, centroid ARRAY<DOUBLE>",
    )
    assigned = assign_buckets(df, centroids, "embedding", "vec_id").persist()
    try:
        # precondition: the corpus really is one hot cluster
        sizes = {r.bucket: r["count"]
                 for r in assigned.groupBy("bucket").count().collect()}
        assert max(sizes.values()) == assigned.count()

        exact = embedding_near_dups(
            assigned, "embedding", "vec_id", threshold=0.98,
            block_col="bucket", dim=8,
        )
        guarded = embedding_near_dups(
            assigned, "embedding", "vec_id", threshold=0.98,
            block_col="bucket", dim=8, max_block=64,
        )
        ek = sorted(
            (r.id_a, r.id_b, round(r.cos_sim, 9)) for r in exact.collect()
        )
        gk = sorted(
            (r.id_a, r.id_b, round(r.cos_sim, 9)) for r in guarded.collect()
        )
        assert ek == gk and len(ek) >= 40      # exact rewrite, real output
        plan = physical_plan(guarded)
        assert "__i" in plan and "__j" in plan  # salts ARE join keys
    finally:
        assigned.unpersist()


def test_hot_block_guard_threaded_through_callsites(spark):
    """r12 verdict #1 wiring gate: q75's SemDedup stage and q125/q136's
    shared embedding evidence channel must BUILD the salted plan (the
    `__i`/`__j` sub-block salts appear as join keys), not the unguarded
    whole-block self-join.  Plan-level, so it fails loudly if a future
    edit drops the `max_block=` keyword again."""
    from cosmo_spark.plans.explain import physical_plan
    from cosmo_spark.queries.textops import _entity_pairs
    from cosmo_spark.queries.trainprep import q75_semantic_dedup
    from tests.conftest import SF_SMOKE

    plan75 = physical_plan(q75_semantic_dedup(spark, SF_SMOKE))
    assert "__i" in plan75 and "__j" in plan75

    plan_ep = physical_plan(_entity_pairs(spark, SF_SMOKE))
    assert "__i" in plan_ep and "__j" in plan_ep


def test_duplicate_clusters_driver_path_equals_iterative(spark):
    """r13: small pair graphs take the driver-side union-find shortcut;
    its labels must be bit-identical to the distributed min-label loop
    (forced via driver_max_edges=0) — including long paths (pointer
    jumping territory), isolated pairs, and string ids."""
    from cosmo_spark.operators.dedup import duplicate_clusters

    # chain 0-1-2-...-9 (diameter 9), a triangle, an isolated pair, and
    # a duplicate edge given in both orientations
    pairs = [(i, i + 1) for i in range(9)]
    pairs += [(20, 21), (21, 22), (20, 22), (30, 31), (22, 20)]
    df = spark.createDataFrame(pairs, "id_a LONG, id_b LONG")
    fast = {(r.id, r.cluster)
            for r in duplicate_clusters(df).collect()}
    slow = {(r.id, r.cluster)
            for r in duplicate_clusters(df, driver_max_edges=0).collect()}
    assert fast == slow
    assert {(i, 0) for i in range(10)} <= fast
    assert {(20, 20), (21, 20), (22, 20), (30, 30), (31, 30)} <= fast

    sdf = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "id_a STRING, id_b STRING"
    )
    fast_s = {(r.id, r.cluster) for r in duplicate_clusters(sdf).collect()}
    slow_s = {(r.id, r.cluster)
              for r in duplicate_clusters(sdf, driver_max_edges=0).collect()}
    assert fast_s == slow_s
    assert fast_s == {("a", "a"), ("b", "a"), ("c", "a"),
                      ("x", "x"), ("y", "x")}
