"""Robust (median/MAD) grouped statistics and outlier detection.

The reference flags outliers with mean±N·sigma rules
(ref: cosmo/monitors/acq_monitors.py:79-90, dark_monitors.py:196); the
robust variant — modified z-score over median and median-absolute-
deviation (Iglewicz & Hoaglin 1993) — survives the heavy-tailed
telemetry those rules exist for, so it belongs in the same operator
family.

Scale shape: medians are computed with per-group ORDERED WINDOWS
(row_number + count, pick the middle one or two rows, average) — one
shuffle-and-sort per pass, never a per-group ``collect_list`` (a
grouped list materializes the whole group in ONE ROW of one task; the
window sort at least streams and spills).  MAD is the same machinery
over ``|x - median|``, so the full detector is two window passes + one
broadcastable (group, median, mad) table joined back to the facts.

Parallelism caveat (measured, docs/SCALE.md): a partitioned window
still sorts each group in a single task, so parallelism equals the
group count.  Right for telemetry shapes — many monitor keys
(mnemonic, segment, aperture), bounded rows each, exactly the
reference's outlier granularity; for FEW huge groups (5 event types x
20 TB) use the histogram-CDF quantile machinery
(operators/histogram.quantile_cuts) whose error-bounded cuts stay
fully partitioned.

Determinism (the catalog's parity discipline): middle-row selection is
exact (integer ranks, (value, id) tiebreak ordering); the only float
arithmetic is the two-row average ``(a+b)/2.0`` and the final threshold
comparison, written multiplication-only (``0.6745*|x-med| > z*MAD``) so
there is no division to diverge in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cosmo_spark.session import persisted

#: Iglewicz-Hoaglin consistency constant for the modified z-score
MAD_K = 0.6745


def grouped_median(
    df: DataFrame, key: str, val: str, tiebreak: str,
    out_col: str = "median",
) -> DataFrame:
    """(key, median) via per-group ordered windows: rank rows by
    (val, tiebreak), keep the middle one (odd n) or two (even n), and
    average them.  One shuffle on ``key``; group size bounds the sort,
    not a single task's memory."""
    w = Window.partitionBy(key).orderBy(F.col(val), F.col(tiebreak))
    wc = Window.partitionBy(key)
    ranked = df.select(
        key, val,
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wc).alias("__n"),
    )
    mid = ranked.filter(
        (F.col("__rn") == (F.col("__n") + 1) / 2)           # odd: exact middle
        | (F.col("__rn") == F.col("__n") / 2)               # even: lower middle
        | (F.col("__rn") == F.col("__n") / 2 + 1)           # even: upper middle
    )
    # odd n matches one row; even n matches two -> sum/count == (a+b)/2.0
    return mid.groupBy(key).agg(
        (F.sum(val) / F.count(F.lit(1))).alias(out_col)
    )


def robust_outliers(
    df: DataFrame, key: str, val: str, tiebreak: str, z: float = 3.5,
    distributed: bool = False, buckets: int = 4096,
) -> DataFrame:
    """Rows whose modified z-score exceeds ``z``:

        0.6745 * |x - median| > z * MAD

    (multiplication-only form of |modified z| > z).  Returns the input
    rows + the group median and MAD.  The (key, median, mad) table is
    group-cardinality-sized — broadcast into the fact join.

    ``distributed=True`` routes BOTH median passes through
    ``grouped_median_distributed`` (bucketed rank selection, bounded
    aggregate state) — mandatory for the few-huge-groups shape (5 event
    types x 20 TB), where the window path's parallelism collapses to the
    group count (round-6 verdict #1).  The two median definitions select
    the same middle ranks and average with the same ``(a+b)/2.0``, so
    results are bit-identical and the oracle does not change."""
    if distributed:
        def _median(d, k, v, tb, out_col="median"):
            return grouped_median_distributed(
                d, k, v, tb, buckets=buckets, out_col=out_col
            )
    else:
        _median = grouped_median
    med = _median(df, key, val, tiebreak)
    dev = df.join(F.broadcast(med), key).select(
        key, F.col(tiebreak).alias("__tb"),
        F.abs(F.col(val) - F.col("median")).alias("__adev"),
    )
    if distributed:
        # the MAD pass scans dev three times (stats, bucketing, hot-bucket
        # rank) with DIFFERENT downstream groupings, so ReusedExchange
        # cannot share the join+abs work — persisting it measured
        # 4.9 -> 3.4 s at sf0.1 (persisting the raw facts measured WORSE,
        # 7.3 s: the parquet scan is cheaper than a cache round-trip)
        with persisted(dev):
            mad = _median(dev, key, "__adev", "__tb", out_col="mad")
            # force the group-cardinality stats table NOW so dev's cache is
            # released before returning — a library caller must not
            # accumulate a pinned fact-sized cache per invocation (review
            # r7).  Collect-and-recreate rather than localCheckpoint:
            # checkpoint blocks are unreplicated and die with a
            # decommissioned executor, failing the caller's LATER action
            # unrecoverably (review r7 #2); the stats frame is
            # groups-sized, so a driver round-trip is the safe
            # materialization.
            joined = med.join(mad, key)
            stats = df.sparkSession.createDataFrame(
                joined.collect(), joined.schema
            )
    else:
        mad = _median(dev, key, "__adev", "__tb", out_col="mad")
        stats = med.join(mad, key)
    return (
        df.join(F.broadcast(stats), key)
        .filter(
            F.lit(MAD_K) * F.abs(F.col(val) - F.col("median"))
            > F.lit(float(z)) * F.col("mad")
        )
    )


def grouped_median_distributed(
    df: DataFrame, key: str, val: str, tiebreak: str,
    buckets: int = 4096, out_col: str = "median",
) -> DataFrame:
    """EXACT per-group median with NO single-task group sort — the
    few-huge-groups answer to grouped_median's parallelism caveat
    (5 event types x 20 TB must not become 5 sort tasks).  Cost: two
    full scans (stats, bucket counts) plus a third ONLY when a rank
    lands in a non-degenerate bucket — and that scan windows just the
    hot bucket's rows.

    Pass A (one groupBy): per-group (n, min, max).  Pass B (one
    groupBy): per-(group, bucket) count/min/max over a linear
    value-quantization into ``buckets`` cells — bounded aggregate state,
    map-side combining, never a sort.  The median's global rank(s)
    (middle one or two) are then located in the tiny cumulative bucket
    table; a bucket whose min==max IS the answer for its rank (the
    common case for discrete/telemetry values — zero extra work), and
    only otherwise does a final scan rank the ONE hot bucket's rows
    (expected n/buckets of the group) with a window bounded by that
    bucket, selecting rank − cum_prev.

    Exactness does not depend on float bucket boundaries: however the
    quantization splits values, cumulative counts are computed from the
    same buckets, so rank selection lands on the true order statistics;
    the only float arithmetic in the result is the same two-row average
    grouped_median uses.  Adversarial worst case (nearly all of a group
    inside one non-degenerate bucket) degrades to that bucket's window —
    recorded, not hidden; raise ``buckets`` for heavy-tailed doubles.

    Contract: ``val`` non-null and FINITE (filter upstream — a ±inf
    endpoint makes the quantization ratio NaN for its own row).
    """
    from pyspark.sql.window import Window

    facts = df.select(
        F.col(key).alias("__k"), F.col(val).alias("__v"),
        F.col(tiebreak).alias("__tb"),
    )
    stats = facts.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
    )
    b_expr = F.when(
        F.col("__hi") > F.col("__lo"),
        F.least(
            F.lit(buckets - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("__v") - F.col("__lo"))
                    / (F.col("__hi") - F.col("__lo")) * buckets
                ).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))
    bucketed = facts.join(F.broadcast(stats), "__k").select(
        "__k", "__v", "__tb", b_expr.alias("__b")
    )
    bt = bucketed.groupBy("__k", "__b").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min("__v").alias("__bmin"),
        F.max("__v").alias("__bmax"),
    )
    w_cum = (
        Window.partitionBy("__k").orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bt.withColumn("__cum", F.sum("__c").over(w_cum))
    # the middle rank(s): odd n -> one, even n -> two (same definition as
    # grouped_median, so the two agree bit-for-bit)
    ranks = (
        stats.select(
            F.col("__k").alias("__rk"),  # distinct name: cum shares __k lineage
            F.explode(
                F.array_distinct(
                    F.array(
                        ((F.col("__n") + 1) / 2).cast("long"),
                        (F.col("__n") / 2 + 1).cast("long"),
                    )
                )
            ).alias("__r"),
        )
    )
    targets = ranks.join(
        cum,
        (F.col("__rk") == F.col("__k"))
        & (ranks["__r"] > F.col("__cum") - F.col("__c"))
        & (ranks["__r"] <= F.col("__cum")),
    ).select(
        F.col("__rk").alias("__k"), "__r", "__b",
        (F.col("__cum") - F.col("__c")).alias("__cum_prev"),
        "__bmin", "__bmax",
    )
    fast = targets.filter(F.col("__bmin") == F.col("__bmax")).select(
        "__k", "__r", F.col("__bmin").alias("__val")
    )
    slow_t = targets.filter(F.col("__bmin") != F.col("__bmax")).select(
        "__k", "__r", "__b", "__cum_prev"
    )
    w_in = Window.partitionBy("__k", "__r").orderBy("__v", "__tb")
    slow = (
        bucketed.join(F.broadcast(slow_t), ["__k", "__b"])
        .withColumn("__rn", F.row_number().over(w_in))
        .filter(F.col("__rn") == F.col("__r") - F.col("__cum_prev"))
        .select("__k", "__r", F.col("__v").alias("__val"))
    )
    return (
        fast.unionByName(slow)
        .groupBy(F.col("__k").alias(key))
        .agg((F.sum("__val") / F.count(F.lit(1))).alias(out_col))
    )


def grouped_less_cumsum(
    df: DataFrame, key: str | None, val: str, weight: str | None = None,
    buckets: int = 4096, out_col: str = "less",
) -> DataFrame:
    """Per DISTINCT (key, val): the total ``weight`` (row count when None)
    of same-group rows with STRICTLY smaller ``val``, plus the group total
    as ``grp_total`` — the q104 two-layer decomposition generalized into
    the catalog's one exact-rank primitive (review r7: this machinery was
    written three times — median rank location, percent_rank, q113's
    below-counts — before being extracted here).

    No per-group sort anywhere: per-(group, value) weights (one
    aggregate — the VALUE is the unit of work), a bucket-cumulative layer
    (tiny window over the bucket aggregate), and an in-bucket running sum
    (window keyed by (group, bucket) over the value aggregate — expected
    distinct-values/buckets rows per task).  ``key=None`` computes the
    global (ungrouped) cumulative.  Exactness never depends on the float
    bucket boundaries: both cumulative layers are computed from the same
    cells.  Contract: ``val`` non-null and finite."""
    k_expr = F.lit(0) if key is None else F.col(key)
    w_expr = F.lit(1) if weight is None else F.col(weight)
    vb = df.groupBy(
        k_expr.alias("__k"), F.col(val).alias("__v")
    ).agg(F.sum(w_expr).alias("__c"))
    stats = vb.groupBy("__k").agg(
        F.sum("__c").alias("__n"),
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
    )
    b_expr = F.when(
        F.col("__hi") > F.col("__lo"),
        F.least(
            F.lit(buckets - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("__v") - F.col("__lo"))
                    / (F.col("__hi") - F.col("__lo")) * buckets
                ).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))
    vbb = vb.join(F.broadcast(stats), "__k").select(
        "__k", "__v", "__c", "__n", b_expr.alias("__b")
    )
    bt = vbb.groupBy("__k", "__b").agg(F.sum("__c").alias("__bc"))
    w_b = (
        Window.partitionBy("__k").orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    btc = bt.select(
        "__k", "__b",
        F.coalesce(F.sum("__bc").over(w_b), F.lit(0)).alias("__before"),
    )
    w_in = (
        Window.partitionBy("__k", "__b").orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # btc is at most groups x buckets rows — always broadcastable; without
    # the hint, stale stats can demote this to a sort-merge join that
    # shuffles the full distinct-values table (review r7)
    out = vbb.join(F.broadcast(btc), ["__k", "__b"]).select(
        "__k", F.col("__v").alias(val),
        (F.col("__before")
         + F.coalesce(F.sum("__c").over(w_in), F.lit(0))).alias(out_col),
        F.col("__n").alias("grp_total"),
    )
    if key is None:
        return out.drop("__k")
    return out.withColumnRenamed("__k", key)


def grouped_percent_rank(
    df: DataFrame, key: str, val: str,
    buckets: int = 4096, out_col: str = "pct",
) -> DataFrame:
    """Exact SQL ``percent_rank`` per group with NO per-group sort: ties
    share a competition rank because the VALUE is the aggregation unit
    (see grouped_less_cumsum), and pct = (rank-1)/(n-1) = less/(n-1),
    defined 0.0 for single-row groups — exactly the SQL spec both engines
    implement.

    Returns one row per DISTINCT (key, val) with ``out_col`` — join back
    to the facts on (key, val) for row-level normalization (quantile
    feature scaling, within-source curriculum scores)."""
    lc = grouped_less_cumsum(df, key, val, buckets=buckets)
    return lc.select(
        key, val,
        F.when(
            F.col("grp_total") > 1,
            F.col("less").cast("double")
            / (F.col("grp_total") - 1).cast("double"),
        ).otherwise(F.lit(0.0)).alias(out_col),
    )
