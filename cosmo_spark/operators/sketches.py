"""Shared sketch machinery — the HLL register/estimator pieces used by the
q107 batch query and the streaming register maintainer
(streaming/sketches.py), kept in ONE place so the two can never drift.

Geometry: m=256 registers over the catalog's arithmetic poly-hash domain
[0, 1e9+7) → 22 suffix bits.  Everything parity-sensitive is shared with
the DuckDB oracle builders in queries/misc.py: rho is an integer CASE (no
log2), register terms are dyadic rationals (order-independent harmonic
sum), and the linear-counting correction reads m·ln(m/V) from a
Python-computed literal table (PARITY.md rule 6 — no engine libm).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: HLL geometry: m=256 registers, hash domain [0, 1e9+7) -> 22 suffix bits
HLL_M = 256
HLL_WBITS = 22
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)


def hll_rho_sql(w: str) -> str:
    """Leading-zero rank of the 22-bit suffix as a pure integer CASE —
    rho = 1 for the top bit set, ..., 23 for w = 0.  No log2 anywhere
    (library transcendentals diverge across engines; PARITY.md rule 6)."""
    branches = " ".join(
        f"WHEN {w} >= {1 << (HLL_WBITS - k)} THEN {k}"
        for k in range(1, HLL_WBITS + 1)
    )
    return f"(CASE WHEN {w} = 0 THEN {HLL_WBITS + 1} {branches} END)"


def hll_lc_table() -> list[float]:
    """Linear-counting estimates m*ln(m/V) for every possible count of
    empty registers V in 1..m, computed ONCE in Python — ln is the one
    transcendental in the corrected estimator, so BOTH engines read the
    value from the same embedded double literal instead of calling their
    own libm."""
    import math

    return [HLL_M * math.log(HLL_M / v) for v in range(1, HLL_M + 1)]


def hll_registers(df: DataFrame, keys: list[str], text_col: str) -> DataFrame:
    """(*keys, bucket, rho) register rows for the distinct texts of each
    key scope — the mergeable sketch state: registers from different
    partitions / batches / days combine by element-wise MAX without
    rescanning anything.  One map-side hash pass + one (keys, bucket)
    aggregate."""
    from cosmo_spark.functions.text import poly_hash

    rows = df.filter(F.col(text_col).isNotNull()).select(
        *keys, poly_hash(F.col(text_col)).alias("h")
    ).select(
        *keys,
        (F.col("h") % HLL_M).alias("bucket"),
        F.floor(F.col("h") / HLL_M).cast("long").alias("w"),
    )
    return rows.groupBy(*keys, "bucket").agg(
        F.max(F.expr(hll_rho_sql("w"))).alias("rho")
    )


def hll_estimate(reg_df: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, est) from register rows, with the small-range
    linear-counting branch live (V empty registers and raw < 2.5·m →
    est = m·ln(m/V) from the shared literal table)."""
    lc_arr = "array(" + ", ".join(f"{x!r}D" for x in hll_lc_table()) + ")"
    # shiftleft's python wrapper takes only literal bit counts — the SQL
    # form accepts the rho column
    s = F.sum(F.expr("CAST(1.0 AS DOUBLE) / shiftleft(1, rho)"))
    raw = (
        F.lit(HLL_ALPHA) * HLL_M * HLL_M
        / (s + (HLL_M - F.count(F.lit(1))))
    )
    agg = reg_df.groupBy(*keys).agg(
        raw.alias("__raw"),
        (F.lit(HLL_M) - F.count(F.lit(1))).alias("__v0"),
    )
    est = F.when(
        (F.col("__v0") > 0) & (F.col("__raw") < F.lit(2.5 * HLL_M)),
        F.expr(f"element_at({lc_arr}, cast(__v0 AS int))"),
    ).otherwise(F.col("__raw"))
    return agg.select(*keys, est.alias("est"))


# --------------------------------------------------------------------------- #
# Count-Min geometry + fragments (shared by q108 and streaming/sketches)      #
# --------------------------------------------------------------------------- #

#: CMS geometry: 4 hash rows x 1024 counters; pairwise-independent-ish
#: affine permutations of the arithmetic token hash (same family as the
#: MinHash perms)
CMS_W = 1024
CMS_ROWS = ((131, 7), (257, 101), (521, 1009), (1031, 10007))
CMS_P = 1_000_000_007


def cms_rb_expr(th_col: str = "th"):
    """Exploded (r, bucket) struct array for a token-hash column — ONE
    corpus pass computes all 4 hash rows (a union of per-row selects
    re-evaluates the per-char token hashing per branch; measured ~4x at
    10x scale, q108)."""
    return F.explode(F.array(*[
        F.struct(
            F.lit(i).alias("r"),
            (((F.col(th_col) * a + b) % CMS_P) % CMS_W).alias("bucket"),
        )
        for i, (a, b) in enumerate(CMS_ROWS)
    ]))


def cms_counters(
    tokh: DataFrame, th_col: str = "th", carry: list[str] | None = None
) -> DataFrame:
    """(carry..., r, bucket, cnt) counter rows for a token-hash frame —
    the additive sketch state: counters from different partitions /
    batches / days combine by SUM.  ``carry`` threads grouping columns
    (e.g. the windowed maintainer's event-time bucket) through the
    aggregate, yielding one independent counter generation per carry
    value."""
    carry = carry or []
    return (
        tokh.select(*carry, cms_rb_expr(th_col).alias("rb"))
        .groupBy(
            *carry,
            F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_probe_rows(df: DataFrame, carry: list[str], th_col: str = "th") -> DataFrame:
    """One (carry..., r, bucket) row per (input row, hash row) — the probe
    side of the min-over-rows estimate, computed ROW-LOCALLY (no corpus
    re-shuffle; q108's discipline)."""
    probes = None
    for i, (a, b) in enumerate(CMS_ROWS):
        part = df.select(
            *carry, F.lit(i).alias("r"),
            (((F.col(th_col) * a + b) % CMS_P) % CMS_W).alias("bucket"),
        )
        probes = part if probes is None else probes.unionByName(part)
    return probes


# --------------------------------------------------------------------------- #
# KMV / theta sketch: per-key k smallest distinct hash values                  #
# --------------------------------------------------------------------------- #

#: KMV geometry shared by q110 and the streaming maintainer
KMV_K = 64
KMV_P = 1_000_000_007
KMV_B = 4096


def kmv_k_smallest(
    hs: DataFrame, keys: list[str], h: str = "h", k: int = KMV_K
) -> DataFrame:
    """Per-key k smallest values of a DISTINCT (keys..., h) frame — the KMV
    sketch body — via bucket-cutoff rank selection, never a per-key full
    sort (the q104 discipline): hashes bucket into KMV_B hash-range
    cells, a tiny cumulative bucket table locates the cell holding the
    kth value, and only rows at or below that cutoff (expected ~k per
    key) reach the ranking window, which therefore sits above a bounded
    Aggregate."""
    from pyspark.sql.window import Window

    bucketed = hs.withColumn(
        "__bucket", ((F.col(h) * KMV_B) / KMV_P).cast("long")
    )
    w_cum = (
        Window.partitionBy(*keys).orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        bucketed.groupBy(*keys, "__bucket")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn("__cum", F.sum("__cnt").over(w_cum))
    )
    cutoff = cum.groupBy(*keys).agg(
        F.coalesce(
            F.min(F.when(F.col("__cum") >= k, F.col("__bucket"))),
            F.max("__bucket"),
        ).alias("__cut")
    )
    kept = bucketed.join(F.broadcast(cutoff), list(keys)).filter(
        F.col("__bucket") <= F.col("__cut")
    )
    w_rank = Window.partitionBy(*keys).orderBy(h)
    return (
        kept.withColumn("__r", F.row_number().over(w_rank))
        .filter(F.col("__r") <= k)
        .select(*keys, h)
    )


def kmv_estimate(sk: DataFrame, keys: list[str], h: str = "h",
                 k: int = KMV_K) -> DataFrame:
    """(keys..., n_sk, est): the KMV distinct estimate (k-1)*P/h_k, with
    the exact branch est = n when fewer than k values were ever observed
    (the sketch IS the set) — identical operand order to the q110
    oracle's expression."""
    stats = sk.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_sk"), F.max(h).alias("hk")
    )
    # numerator follows the k PARAMETER (advice r7: the fixed KMV_NUMER
    # constant silently mis-scaled estimates for any caller passing
    # k != KMV_K); (k-1)*P stays exactly representable in a double for
    # every reasonable k (k-1 < 2^53 / P ~ 9e6)
    numer = F.lit((k - 1) * KMV_P).cast("double")
    return stats.select(
        *keys, "n_sk",
        F.when(F.col("n_sk") < k, F.col("n_sk").cast("double"))
        .otherwise(numer / F.col("hk").cast("double")).alias("est"),
    )


# --------------------------------------------------------------------------- #
# HDR histogram: log-bucketed quantile sketch (the ADDITIVE quantile algebra)  #
# --------------------------------------------------------------------------- #
#
# The fourth mergeable sketch beside HLL (max), Count-Min (sum) and KMV
# (set union): positive integers bucket into 64 sub-buckets per power-of-2
# octave — values < 64 are exact, larger values keep their top 6 mantissa
# bits — so a quantile read off the cumulative bucket counts is within a
# 1/64 relative band of the true value, from state bounded by ~64 octaves
# × 64 sub-buckets regardless of stream length.  Counts merge by SUM
# (partitions, batches, days), so the same geometry serves the batch
# query (q143), the streaming maintainer (streaming/sketches) and any
# rollup.  Everything is integer bit arithmetic both engines compute
# identically: exponent = length(bin(v)) − 1 (exact integer log2 — no
# float log edge cases at powers of two).

HDR_SUBBITS = 6   # 64 sub-buckets per octave → relative error ≤ 2^-6


def hdr_bucket_spark_sql(v: str) -> str:
    """Spark-SQL text mapping a positive BIGINT expression to its HDR
    bucket id (use inside F.expr)."""
    return (
        f"CASE WHEN {v} < 64 THEN {v} ELSE "
        f"shiftleft(cast(length(bin({v})) - 1 as bigint), 6) | "
        f"(shiftright({v}, cast(length(bin({v})) - 7 as int)) & 63) END"
    )


def hdr_bucket_duck_sql(v: str) -> str:
    """DuckDB twin of hdr_bucket_spark_sql — same arithmetic, operator
    dialect."""
    return (
        f"CASE WHEN {v} < 64 THEN {v} ELSE "
        f"(CAST(length(bin({v})) - 1 AS BIGINT) << 6) | "
        f"(({v} >> (length(bin({v})) - 7)) & 63) END"
    )


def hdr_low_spark_sql(b: str) -> str:
    """Spark-SQL text for a bucket id's inclusive lower value bound (the
    deterministic quantile estimate)."""
    return (
        f"CASE WHEN {b} < 64 THEN {b} ELSE "
        f"shiftleft(64 + ({b} & 63), cast(shiftright({b}, 6) - 6 as int)) END"
    )


def hdr_low_duck_sql(b: str) -> str:
    return (
        f"CASE WHEN {b} < 64 THEN {b} ELSE "
        f"CAST(64 + ({b} & 63) AS BIGINT) << (({b} >> 6) - 6) END"
    )


def hdr_quantiles(
    counts: DataFrame, keys: list[str], quantiles=(50, 90, 99)
) -> DataFrame:
    """(keys..., quantile, est_value, n) percentile estimates from an HDR
    bucket-count frame (keys..., bucket, cnt) — ONE definition of the
    cumulative selection shared by the batch query (q143) and both
    streaming read paths, so 'stream-then-estimate equals the batch
    sketch' can never drift.  est_value is the selected bucket's lower
    bound in original units (micro-unit encoding)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = counts.withColumn("cw", F.sum("cnt").over(w))
    tot = counts.groupBy(*keys).agg(F.sum("cnt").alias("n"))
    qx = F.explode(F.array(*[F.lit(int(q)).cast("long") for q in quantiles]))
    grid = cum.join(F.broadcast(tot), list(keys)).select(
        *keys, "bucket", "cw", "n", qx.alias("quantile")
    )
    sel = (
        grid.filter(100 * F.col("cw") >= F.col("quantile") * F.col("n"))
        .groupBy(*keys, "quantile")
        .agg(F.min("bucket").alias("b"), F.min("n").alias("n"))
    )
    return sel.select(
        *keys, "quantile",
        F.round(
            F.expr(hdr_low_spark_sql("b")).cast("double") / 1000000.0, 6
        ).alias("est_value"),
        "n",
    )
