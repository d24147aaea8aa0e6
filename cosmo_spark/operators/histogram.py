"""Histogram + CDF quantile cuts as set-based aggregations.

ref: cosmo/monitors/dark_monitors.py:386-420 — np.histogram(bins=100),
cumsum to a CDF, then the bins nearest 95/99/99.5%, plus mean/median/kσ lines.

Spark formulation: bin by fixed width (map-side combinable), CDF via an
ordered-window cumsum over the (tiny) bin table, and quantile cuts directly
via percentiles — no driver-side numpy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def histogram(
    df: DataFrame,
    value_col: str,
    bin_width: float,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Fixed-width histogram: one row per (group, bin) with count + cum count.

    The cumulative window runs over the aggregated bin table (tiny), so the
    single-partition exchange it implies is irrelevant at any input scale.
    """
    bin_col = F.floor(F.col(value_col) / F.lit(bin_width)).cast("long").alias("bin")
    counts = df.groupBy(*group_cols, bin_col).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return counts.withColumn("cum_n", F.sum("n").over(w)).withColumn(
        "lo", F.col("bin") * F.lit(bin_width)
    )


def quantile_cuts(
    df: DataFrame,
    value_col: str,
    quantiles: tuple[float, ...] = (0.95, 0.99, 0.995),
    sigma_lines: tuple[float, ...] = (1.0, 2.0, 3.0),
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-group quantile cuts + median/σ reference lines
    (ref: dark_monitors.py:402-420: med + kσ).

    Exact ``percentile`` buffers every value per group — fine for the
    plot-band sized groups the monitors cut.
    """
    v = F.col(value_col)
    aggs: list[Column] = [
        F.percentile(v, q).alias(f"p{str(q).replace('0.', '')}")
        for q in quantiles
    ]
    aggs += [
        F.avg(v).alias("mean"),
        F.percentile(v, 0.5).alias("median"),
        F.stddev_samp(v).alias("std"),
    ]
    out = df.groupBy(*group_cols).agg(*aggs)
    for k in sigma_lines:
        out = out.withColumn(
            f"median_plus_{k:g}sigma", F.col("median") + F.lit(k) * F.col("std")
        )
    return out
