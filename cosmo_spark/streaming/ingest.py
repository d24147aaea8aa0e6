"""Structured Streaming formulation of the reference's incremental ingest
(SURVEY.md §2.9 ST1-ST3).

The reference discovers "new" files by diffing a directory listing against an
ingest log on every run (ref: cosmo/monitors/data_models.py:62-77,
cosmo/sms/ingest_sms.py:288-294) and upserts with a version guard
(ref: cosmo/sms/ingest_sms.py:154-198).  Structured Streaming's file source
replaces the listing diff with checkpointed exactly-once file tracking; the
version-guarded MERGE runs per micro-batch in ``foreachBatch``.

At 100 TB the difference is decisive: the batch anti-join re-reads the whole
ingest log per run, while the checkpoint makes discovery O(new files).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from cosmo_spark.operators.merge import merge_into_path
from cosmo_spark.session import persisted


def start_catch_up(
    stream: DataFrame, batch_fn, checkpoint_dir: str
) -> StreamingQuery:
    """Start ``stream`` through ``foreachBatch(batch_fn)`` for ONE catch-up
    run: ``availableNow`` processes everything present at start (in as many
    micro-batches as the source's rate limits need) and then stops — the
    cron-style cadence of the reference (``cosmo --monthly``).  Every
    maintainer in this package starts through here, so none leaves a query
    running after its caller's ``awaitTermination`` returns."""
    return (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_ingest_merge(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    target_path: str,
    key_cols: str | Sequence[str],
    version_col: str,
    checkpoint_dir: str,
    fmt: str = "json",
    retain_versions: int | None = 3,
) -> StreamingQuery:
    """File-source stream -> version-guarded MERGE into a parquet table.

    ST1 (new-file discovery): the file source + checkpoint tracks ingested
    files exactly-once — re-running after a crash re-processes nothing.
    ST3 (late/updated data): each micro-batch merges with the version guard,
    so a newer VERSION supersedes and re-delivery is a no-op (idempotent).
    The query runs one catch-up pass and stops (``start_catch_up``).
    """
    stream = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", 1000)
        .load(source_dir)
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # every micro-batch publishes a snapshot version; retain_versions
        # bounds the history (default 3: current + enough to snapshot_diff
        # the last merges) — a recurring ingest must not accumulate one
        # full-table copy per batch forever (r9 self-review #4)
        merge_into_path(
            batch_df.sparkSession, target_path, batch_df, key_cols,
            version_col, retain_versions=retain_versions,
        )

    return start_catch_up(stream, merge_batch, checkpoint_dir)


def stream_ingest_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    corpus_path: str,
    index_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    fmt: str = "json",
) -> StreamingQuery:
    """Streaming twin of q79: each micro-batch of incoming documents probes
    the stored corpus's MinHash LSH index, near-duplicates (Jaccard ≥
    ``threshold``) are dropped, and KEPT docs append to the corpus — with
    their band/shingle rows appended to the index, so later batches dedup
    against everything ingested before them.

    The index is two parquet tables under ``index_path``: ``bands``
    (doc, band_idx, band_hash — what a batch's bands equi-join against) and
    ``shingles`` (doc, sh — what candidates verify exact Jaccard against).
    At 100 TB the bands table lives bucketed by band_hash at rest, so the
    per-batch probe shuffles only the BATCH side; the corpus is never
    rescanned — exactly the property the reference's listing-diff ingest
    (ref: cosmo/sms/ingest_sms.py:288-294) loses at scale.

    Within-batch duplicates are NOT collapsed here (a batch is assumed
    pre-deduped by the batch operators, q39/q45); the guarantee is
    batch-vs-history.  Crash-safety: the file-source checkpoint makes batch
    delivery exactly-once; the corpus/index appends are idempotent only per
    delivered batch, the same contract as the reference's ingest log.
    """
    import os

    from pyspark.sql import functions as F

    from cosmo_spark.operators.dedup import band_table, shingle_table

    stream = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", 1000)
        .load(source_dir)
    )
    bands_path = os.path.join(index_path, "bands")
    shingles_path = os.path.join(index_path, "shingles")

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        # a catch-up run calls this once per micro-batch: every pin is
        # scoped to the batch, or dead cached shingle tables accumulate in
        # executor storage for the life of the stream
        sh_new = shingle_table(batch_df, text_col, id_col, shingle_n)
        with persisted(batch_df, sh_new):
            b_new = band_table(sh_new, n_hashes, bands)
            kept = batch_df
            if os.path.exists(bands_path):
                b_old = ss.read.parquet(bands_path)
                sh_old = ss.read.parquet(shingles_path)
                cand = (
                    b_new.join(
                        b_old.withColumnRenamed("doc", "doc_b"),
                        ["band_idx", "band_hash"],
                    )
                    .select(F.col("doc").alias("id_a"), F.col("doc_b").alias("id_b"))
                    .distinct()
                )
                a = sh_new.select(F.col("__id").alias("id_a"), F.col("sh").alias("sh_a"))
                b = sh_old.select(F.col("__id").alias("id_b"), F.col("sh").alias("sh_b"))
                inter = F.size(F.array_intersect("sh_a", "sh_b"))
                union = F.size("sh_a") + F.size("sh_b") - inter
                dups = (
                    cand.join(a, "id_a").join(b, "id_b")
                    .filter((inter / union) >= threshold)
                    .select(F.col("id_a").alias(id_col))
                    .distinct()
                )
                kept = batch_df.join(dups, id_col, "left_anti")
            with persisted(kept):
                kept.write.mode("append").parquet(corpus_path)
                kept_ids = kept.select(F.col(id_col).alias("__id"))
                sh_kept = sh_new.join(kept_ids, "__id")
                band_table(sh_kept, n_hashes, bands).write.mode("append").parquet(
                    bands_path
                )
                sh_kept.write.mode("append").parquet(shingles_path)

    return start_catch_up(stream, dedup_batch, checkpoint_dir)
