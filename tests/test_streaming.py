"""Streaming-layer tests: checkpointed file ingest with version-guarded merge
(ST1/ST3) and tumbling-window rates (ST4)."""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql.types import StructType, StructField, StringType, LongType

from cosmo_spark.streaming.ingest import stream_ingest_merge
from cosmo_spark.sources.versioned import read_current
from cosmo_spark.streaming.rates import windowed_rates

SCHEMA = StructType([
    StructField("SMSID", StringType()),
    StructField("VERSION", StringType()),
    StructField("payload", LongType()),
])


def write_json(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_ingest_merge_versions(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    target = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    write_json(src / "b1.json", [
        {"SMSID": "s1", "VERSION": "b4", "payload": 1},
        {"SMSID": "s2", "VERSION": "a1", "payload": 2},
    ])
    q = stream_ingest_merge(spark, str(src), SCHEMA, target, "SMSID", "VERSION", ckpt)
    assert q.awaitTermination(60)
    state = {r.SMSID: (r.VERSION, r.payload) for r in read_current(spark, target).collect()}
    assert state == {"s1": ("b4", 1), "s2": ("a1", 2)}

    # second batch: newer version supersedes, older is a no-op, new key inserts
    write_json(src / "b2.json", [
        {"SMSID": "s1", "VERSION": "c2", "payload": 10},
        {"SMSID": "s2", "VERSION": "a0", "payload": 99},
        {"SMSID": "s3", "VERSION": "a1", "payload": 3},
    ])
    q = stream_ingest_merge(spark, str(src), SCHEMA, target, "SMSID", "VERSION", ckpt)
    assert q.awaitTermination(60)
    state = {r.SMSID: (r.VERSION, r.payload) for r in read_current(spark, target).collect()}
    assert state == {"s1": ("c2", 10), "s2": ("a1", 2), "s3": ("a1", 3)}

    # ST1: re-running with no new files re-processes nothing (checkpoint)
    q = stream_ingest_merge(spark, str(src), SCHEMA, target, "SMSID", "VERSION", ckpt)
    assert q.awaitTermination(60)
    state2 = {r.SMSID: (r.VERSION, r.payload) for r in read_current(spark, target).collect()}
    assert state2 == state


def test_windowed_rates_batch_twin(spark):
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("click", ts + datetime.timedelta(seconds=s)) for s in [1, 2, 3, 30, 51]
    ]
    df = spark.createDataFrame(rows, "event_type STRING, ts TIMESTAMP")
    out = {
        (r.event_type, r.window_start.second): (r.n, r.rate_per_sec)
        for r in windowed_rates(df).collect()
    }
    assert out[("click", 0)] == (3, 3 / 25.0)
    assert out[("click", 25)] == (1, 1 / 25.0)
    assert out[("click", 50)] == (1, 1 / 25.0)


def test_windowed_rates_streaming(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    write_json(src / "e1.json", [
        {"event_type": "click", "ts": "2024-01-01T00:00:01.000Z"},
        {"event_type": "click", "ts": "2024-01-01T00:00:02.000Z"},
        {"event_type": "view", "ts": "2024-01-01T00:00:30.000Z"},
    ])
    schema = "event_type STRING, ts TIMESTAMP"
    stream = spark.readStream.schema(schema).json(str(src))
    rates = windowed_rates(stream)
    q = (
        rates.writeStream.format("memory").queryName("rates_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM rates_test").collect()
    got = {(r.event_type, r.window_start.second): r.n for r in rows}
    assert got == {("click", 0): 2, ("view", 25): 1}


def test_session_window_streams(spark, tmp_path):
    """The q54 session_window groupBy runs unchanged as a stream: with a
    watermark and append mode, sessions closed by the watermark emit."""
    from pyspark.sql import functions as F

    src = tmp_path / "sess"
    src.mkdir()
    write_json(src / "e1.json", [
        {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z"},
        {"user_id": 1, "ts": "2024-01-01T00:10:00.000Z"},   # same session
        {"user_id": 1, "ts": "2024-01-01T02:00:00.000Z"},   # new session
        {"user_id": 2, "ts": "2024-01-01T00:00:00.000Z"},
        # late-horizon event: advances the watermark far enough to close
        # every session above
        {"user_id": 9, "ts": "2024-01-02T00:00:00.000Z"},
    ])
    stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP").json(str(src))
    sessions = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        sessions.writeStream.format("memory").queryName("sess_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sess_test").collect()
    got = {(r.user_id, r.session_window.start.isoformat()): r.n_events for r in rows}
    # user 1's first session merged two events; the 02:00 event and user 2's
    # singleton closed as their own sessions
    assert got[(1, "2024-01-01T00:00:00")] == 2
    assert got[(1, "2024-01-01T02:00:00")] == 1
    assert got[(2, "2024-01-01T00:00:00")] == 1


DOC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
])


def test_stream_ingest_dedup_across_batches(spark, tmp_path):
    """q79's streaming twin: batch 2 drops docs that near-duplicate batch 1's
    ingested corpus; novel docs append and extend the index."""
    from cosmo_spark.streaming.ingest import stream_ingest_dedup

    src = tmp_path / "incoming"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    base = "the quick brown fox jumps over the lazy dog again and again"

    def run():
        q = stream_ingest_dedup(
            spark, str(src), DOC_SCHEMA, corpus, index, ckpt
        )
        assert q.awaitTermination(60)

    write_json(src / "b1.json", [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": "completely different stored content about spark"},
    ])
    run()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 2]

    write_json(src / "b2.json", [
        {"doc_id": 3, "text": base},  # duplicate of ingested doc 1 -> dropped
        {"doc_id": 4, "text": "totally novel incoming text with unseen words"},
    ])
    run()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 2, 4]

    # the index grew with the kept doc only: later batches dedup against 4
    write_json(src / "b3.json", [
        {"doc_id": 5, "text": "totally novel incoming text with unseen words"},
    ])
    run()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 2, 4]

    # re-run with no new files: checkpoint makes it a no-op
    run()
    assert spark.read.parquet(corpus).count() == 3


def test_stream_rollup_cascade_incremental_equals_batch(spark, tmp_path):
    """Two micro-batches (the second with a LATE event into batch 1's hour)
    must leave the stored minute/hour/day grains identical to a from-scratch
    batch aggregation over everything ingested."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, TimestampType

    from cosmo_spark.streaming.rates import stream_rollup_cascade

    src = tmp_path / "ev"
    src.mkdir()
    target = str(tmp_path / "grains")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = stream_rollup_cascade(
            spark, str(src), schema_ts, target, ckpt
        )
        assert q.awaitTermination(60)

    # the stream needs a real timestamp column: declare ts as timestamp
    schema_ts = StructType([
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ])

    b1 = [
        {"event_type": "a", "ts": "2024-03-01T10:00:05", "value": 1.25},
        {"event_type": "a", "ts": "2024-03-01T10:00:45", "value": 2.50},
        {"event_type": "b", "ts": "2024-03-01T11:30:00", "value": 10.00},
    ]
    b2 = [
        {"event_type": "a", "ts": "2024-03-02T09:15:00", "value": 4.00},
        # LATE: lands back in 2024-03-01 10:00 minute/hour/day
        {"event_type": "a", "ts": "2024-03-01T10:00:59", "value": 0.25},
    ]
    write_json(src / "b1.json", b1)
    run()
    write_json(src / "b2.json", b2)
    run()

    all_events = spark.createDataFrame(
        [(r["event_type"], r["ts"].replace("T", " "), r["value"]) for r in b1 + b2],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))

    for grain, factor in [("minute", 60), ("hour", 3600), ("day", 86400)]:
        want = {
            (r["event_type"], r["bucket_s"]): (r["n"], r["sc"])
            for r in all_events.select(
                "event_type",
                F.expr(
                    f"((unix_micros(ts) div 1000000) div {factor}) * {factor}"
                ).alias("bucket_s"),
                F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            )
            .groupBy("event_type", "bucket_s")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sc"))
            .collect()
        }
        got = {
            (r["event_type"], r["bucket_s"]): (r["n_events"], r["sc"])
            for r in spark.read.parquet(f"{target}/{grain}").collect()
        }
        assert got == want, (grain, got, want)

    # idempotent re-run with no new files
    run()
    assert spark.read.parquet(f"{target}/minute").count() == len(
        {(r["event_type"], r["ts"][:16]) for r in b1 + b2}
    )


def test_stream_index_upsert_equals_batch_build(spark, tmp_path):
    """Streaming ANN-index maintenance: embedding micro-batches arrive via
    a file stream, each batch encodes row-locally inside foreachBatch and
    APPENDS under its bucket partitions of the at-rest (vec_id, codes,
    bucket) layout — then a search over the streamed index is row-for-row
    identical to one over a single batch build (the q105 invariant,
    driven end-to-end through Structured Streaming)."""
    import json
    import os

    from pyspark.sql import functions as F

    from cosmo_spark.operators.kmeans import kmeans_centroids
    from cosmo_spark.operators.pq import (
        ivf_pq_build_index,
        ivf_pq_query,
    )
    from cosmo_spark.queries.trainprep import _pq_books

    # deterministic 64-dim corpus, 3 arrival batches
    rows = []
    for i in range(60):
        v = [((i * 37 + d * 11) % 97) / 97.0 - 0.5 for d in range(64)]
        rows.append({"vec_id": i, "embedding": v})
    src = tmp_path / "arrivals"
    src.mkdir()
    for b in range(3):
        with open(src / f"batch{b}.json", "w") as f:
            for r in rows[b * 20:(b + 1) * 20]:
                f.write(json.dumps(r) + "\n")

    corpus = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = kmeans_centroids(corpus, "embedding", "vec_id", k=4, iterations=3)
    books = _pq_books()
    idx_dir = str(tmp_path / "pq_index_stream")

    def upsert(batch_df, batch_id):
        ivf_pq_build_index(
            batch_df, cents, "embedding", "vec_id", books
        ).select("vec_id", "codes", "bucket").write.partitionBy(
            "bucket"
        ).mode("append").parquet(idx_dir)

    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).option("maxFilesPerTrigger", 1).json(str(src))
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)

    streamed = spark.read.schema(
        "vec_id BIGINT, codes ARRAY<INT>, bucket INT"
    ).parquet(idx_dir)
    batch_idx = ivf_pq_build_index(
        corpus, cents, "embedding", "vec_id", books
    ).select("vec_id", "codes", "bucket")
    # the two indexes hold identical entries (encode is row-local)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch_idx.collect())
    )
    queries = corpus.filter(F.col("vec_id") < 3)

    def search(index):
        out = ivf_pq_query(
            index, corpus, queries, cents, "embedding", "vec_id", books,
            k=3, nprobe=2, rerank=10,
        )
        return sorted(
            (r.query_id, r.neighbor_id, round(r.l2_dist, 9), r.rank)
            for r in out.collect()
        )

    assert search(streamed) == search(batch_idx)
    # the appended layout really is bucket-partitioned at rest
    assert any(
        d.startswith("bucket=") for d in os.listdir(idx_dir)
        if not d.startswith(("_", "."))
    )
