"""Group-by describe (pandas ``groupby(...).describe()`` analog).

ref: cosmo/monitors/acq_monitors.py:64-69; osm_drift_monitors.py:69-77.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def describe_by(
    df: DataFrame,
    group_cols: Sequence[str],
    value_cols: Sequence[str],
) -> DataFrame:
    """count/mean/std/min/25%/50%/75%/max per group per value column.

    Quartiles are exact interpolated percentiles (matches pandas/duckdb).
    """
    aggs = []
    for v in value_cols:
        c = F.col(v)
        aggs += [
            F.count(c).alias(f"{v}_count"),
            F.avg(c).alias(f"{v}_mean"),
            F.stddev_samp(c).alias(f"{v}_std"),
            F.min(c).alias(f"{v}_min"),
            F.percentile(c, 0.25).alias(f"{v}_25%"),
            F.percentile(c, 0.50).alias(f"{v}_50%"),
            F.percentile(c, 0.75).alias(f"{v}_75%"),
            F.max(c).alias(f"{v}_max"),
        ]
    return df.groupBy(*group_cols).agg(*aggs)
