"""Sharded training-data export sink.

The last step of a corpus-build pipeline (q70/q63/q74) is handing the
curated corpus to a training loader, which wants: (1) JSONL/parquet shards
of bounded size, (2) a DETERMINISTIC doc→shard assignment so re-runs and
incremental rebuilds touch only the shards whose content changed, and
(3) a manifest (per-shard row/byte counts) the loader can schedule from.

Spark-first shape: the shard id is a content/key hash (xxhash64 % n), not
round-robin — stable under re-runs, cluster resizes, and input order.  One
``repartition`` on the shard id co-locates each shard in exactly one task,
so ``partitionBy("shard")`` emits exactly one file per shard directory.
The manifest is a per-shard aggregate of the SAME frame (one extra
shuffle over (shard) keys — tiny), written as a sibling parquet so the
shard directory stays cleanly readable with ``spark.read.json``.

At 100 TB: n_shards scales with corpus size (e.g. ~1 GB/shard), the
repartition is the only corpus shuffle, and maxRecordsPerFile guards any
single oversized shard.  Incremental rebuild = recompute shard ids for
changed docs and rewrite only those shard directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cosmo_spark.session import persisted


def with_shard(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    """Deterministic content-keyed shard id: ``pmod(xxhash64(key), n)``."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    return df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")
    )


def write_sharded_jsonl(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    max_records_per_file: int = 0,
    compression: str | None = None,
) -> None:
    """Export ``df`` as JSONL shards + a sibling ``<path>_manifest`` parquet.

    Layout: ``path/shard=K/part-*.json`` (one file per shard unless
    ``max_records_per_file`` splits an oversized one).  The manifest has one
    row per shard: n_rows, n_docs (distinct keys), approx_bytes (sum of the
    JSON-encoded row lengths — computed from the same expression the writer
    serializes, so it tracks real output size).
    """
    with persisted(with_shard(df, key_col, n_shards)) as sharded:
        writer = (
            sharded.repartition(n_shards, "shard")
            .write.mode("overwrite")
            .partitionBy("shard")
        )
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        if compression:
            writer = writer.option("compression", compression)
        writer.json(path)

        data_cols = [c for c in df.columns]
        manifest = sharded.groupBy("shard").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key_col).alias("n_docs"),
            # +1 per row for the newline the JSONL writer appends
            F.sum(
                F.octet_length(F.to_json(F.struct(*data_cols))) + 1
            ).alias("approx_bytes"),
        )
        manifest.coalesce(1).write.mode("overwrite").parquet(path + "_manifest")


def read_sharded_jsonl(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """Read a sharded export back; ``shard`` returns as a partition column."""
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path + "_manifest")


def write_sharded_columnar(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    fmt: str = "orc",
    max_records_per_file: int = 0,
    compression: str | None = None,
) -> None:
    """Columnar twin of ``write_sharded_jsonl`` for the interchange formats
    downstream training stacks actually mount: ``fmt`` is ``"orc"`` or
    ``"parquet"`` (both built into Spark — no external jars), same
    deterministic content-keyed shard layout ``path/shard=K/part-*`` and
    the same sibling ``<path>_manifest`` parquet (n_rows, n_docs; no
    approx_bytes — columnar encoding sizes are codec-dependent, and a
    fabricated number is worse than none).

    Why both: JSONL is the lingua franca for text pipelines; ORC/parquet
    shards keep types (arrays, binaries, timestamps) and push column
    pruning/predicates to readers — a 100 TB corpus re-read by many
    consumers wants the columnar form."""
    if fmt not in ("orc", "parquet"):
        raise ValueError(f"fmt must be 'orc' or 'parquet', got {fmt!r}")
    with persisted(with_shard(df, key_col, n_shards)) as sharded:
        writer = (
            sharded.repartition(n_shards, "shard")
            .write.mode("overwrite")
            .partitionBy("shard")
        )
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        if compression:
            writer = writer.option("compression", compression)
        writer.format(fmt).save(path)

        manifest = sharded.groupBy("shard").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key_col).alias("n_docs"),
        )
        manifest.coalesce(1).write.mode("overwrite").parquet(path + "_manifest")


def read_sharded_columnar(
    spark: SparkSession, path: str, fmt: str = "orc"
) -> DataFrame:
    """Read a columnar sharded export back; ``shard`` returns as a
    partition column (pruned when filtered — the point of the layout)."""
    if fmt not in ("orc", "parquet"):
        raise ValueError(f"fmt must be 'orc' or 'parquet', got {fmt!r}")
    return spark.read.format(fmt).load(path)
