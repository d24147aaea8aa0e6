"""SparkSession construction and tuning.

Scale stance: these defaults are written for a real cluster (many executors,
100 TB inputs) and merely *also* work on local[32]:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy).
- Broadcast threshold raised to 64 MiB: every dimension table in the cosmo
  model (nation/region/supplier analogs, CRDS lamptab/wcptab, ancillary CSVs)
  is far below this, so dimension joins never shuffle.
- 128 MiB file split target so a 100 TB scan yields ~800k well-sized tasks
  rather than millions of tiny ones.
- Arrow enabled for the (rare) pandas-UDF paths.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

#: Configs that are safe to apply to an already-running session at runtime.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.aggregatePushdown": "true",
    # the events table stores TIMESTAMP(NANOS) which the vanilla parquet
    # reader rejects; read as long and convert (sources.tables normalizes)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Configs that must be set before the session starts.
STARTUP_CONF = {
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    # keep stdout/stderr clean for harnesses that tail-capture output
    # (progress bars overflowed the driver's BENCH capture in round 4)
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "cosmo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    ``master`` defaults to whatever the environment provides (cluster mode);
    tests pass ``local[*]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {**STARTUP_CONF, **RUNTIME_CONF}
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune_session(spark)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-safe tuning to an externally created session.

    The driver harness owns its own SparkSession; every query entry point
    calls this so results are timezone-stable (UTC) and AQE-planned
    regardless of who built the session.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; defaults are acceptable
    return spark


@contextmanager
def persisted(*frames: DataFrame) -> Iterator:
    """Pin ``frames`` for the body of a ``with`` block, then release them,
    also when the body raises.

    The one cache lifetime in this package.  A pin read by a lazily
    returned frame cannot be scoped: such a frame is either recomputed
    (ReusedExchange often shares the subplan anyway) or ``localCheckpoint``ed,
    which cuts its lineage and is reclaimed with the frame.  A bare
    ``persist()`` is never released by the ContextCleaner — the CacheManager
    keeps it until ``unpersist``/``clearCache`` — and it serves every later
    query with the same logical plan.

    Yields the frame (one argument) or the tuple of frames.
    """
    try:
        for df in frames:
            df.persist()
        yield frames[0] if len(frames) == 1 else frames
    finally:
        for df in frames:
            df.unpersist()
