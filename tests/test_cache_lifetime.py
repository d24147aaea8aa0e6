"""No catalog query leaves a pinned cache behind.

The CacheManager matches cached frames by logical plan, so a pin a query
leaves behind outlives the query: a long-lived session (a notebook,
``tools/parity.py``, a monitor service) would serve later queries from it
and carry its storage.  Every pin in ``cosmo_spark`` is therefore either a
``localCheckpoint()`` (reclaimed with its frame) or scoped by
``session.persisted``.

Checkpoint RDDs are deliberately not probed here: the py4j map returned by
``sc._jsc.getPersistentRDDs()`` holds its RDDs strongly, so polling it keeps
alive exactly the RDDs the ContextCleaner would otherwise reclaim.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def _query_names():
    from cosmo_spark.queries import all_queries

    return list(all_queries())


@pytest.fixture(scope="module")
def cache_manager(spark):
    spark.catalog.clearCache()
    return spark._jsparkSession.sharedState().cacheManager()


@pytest.mark.parametrize("name", _query_names())
def test_query_leaves_no_cached_frame(spark, cache_manager, name):
    from cosmo_spark.queries import all_queries

    all_queries()[name].spark_fn(spark, SF_SMOKE).collect()
    empty = cache_manager.isEmpty()
    if not empty:
        spark.catalog.clearCache()  # keep the next case's start state clean
    assert empty, f"{name} left a cached frame in the CacheManager"


def test_persisted_releases_when_body_raises(spark, cache_manager):
    from cosmo_spark.session import persisted

    df = spark.range(100).selectExpr("id % 7 AS k")
    with pytest.raises(RuntimeError, match="boom"):
        with persisted(df, df.groupBy("k").count()) as (_, counts):
            assert counts.count() == 7
            assert not cache_manager.isEmpty()
            raise RuntimeError("boom")
    assert cache_manager.isEmpty()


def test_rollup_cascade_failed_batch_leaves_no_pin(
    spark, cache_manager, tmp_path, monkeypatch
):
    """A micro-batch whose merge raises must not leave its minute partials
    pinned for the life of the stream."""
    import json

    from pyspark.errors import StreamingQueryException

    from cosmo_spark.sources import files
    from cosmo_spark.streaming.rates import stream_rollup_cascade

    def boom(df, path):
        df.count()  # the pinned partials are materialised before the failure
        raise RuntimeError("merge failed")

    monkeypatch.setattr(files, "atomic_overwrite", boom)
    src = tmp_path / "ev"
    src.mkdir()
    (src / "b1.json").write_text(
        json.dumps({"event_type": "a", "ts": "2024-03-01T10:00:05", "value": 1.25})
    )
    q = stream_rollup_cascade(
        spark, str(src), "event_type STRING, ts TIMESTAMP, value DOUBLE",
        str(tmp_path / "grains"), str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(60)
    assert cache_manager.isEmpty()
