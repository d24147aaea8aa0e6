"""Time-series / window query catalog (SURVEY.md §2.5, §2.9).

The reference's telemetry and OSM-shift monitors are time-series analytics:
rolling means, cumulative sums, boxcar smoothing, as-of lookups, event-time
binning, MJD conversions.  All are expressed as Spark window/group operations
with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cosmo_spark.queries import register
from cosmo_spark.session import tune_session
from cosmo_spark.sources.tables import load_table
from cosmo_spark.functions.timekit import ts_to_mjd, ts_to_doy_str, decimal_year


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------- #
# q13 — rolling time-window mean                                              #
# --------------------------------------------------------------------------- #

@register(
    "q13_rolling_mean",
    operators=("W1", "W6"),
    oracle="""
WITH daily AS (
  SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day_num,
         strftime(o_orderdate, '%Y-%m-%d') AS day,
         round(sum(o_totalprice), 4) AS revenue,
         CAST(round(sum(o_totalprice) * 10000) AS BIGINT) AS rev_e4
  FROM orders GROUP BY 1, 2
)
SELECT day, revenue,
       sum(rev_e4) OVER w / (10000.0 * count(*) OVER w) AS rolling_30d
FROM daily
WINDOW w AS (ORDER BY day_num RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
""",
)
def q13_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """180-day rolling mean pattern (ref: osm shift rolling mean,
    cosmo/monitors/osm_shift_monitors.py:444-452) as a RANGE window over a
    day-number key.

    Scale: the rolling window here is a single global series (one partition
    exchange) because the daily rollup is already tiny; with a per-grating
    partition key (as the reference has) it parallelizes per group.
    """
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.floor(
                F.unix_micros(F.col("o_orderdate").cast("timestamp")) / F.lit(86400e6)
            ).cast("long").alias("day_num"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.round(F.sum("o_totalprice") * 10000).cast("long").alias("rev_e4"),
        )
    )
    # rolling mean as integer rolling-sum / count: exact under any summation
    # order, so the cross-engine hash can't flip on a rounding boundary
    w = Window.orderBy("day_num").rangeBetween(-29, 0)
    # no final decimal rounding: dividing exact integers is IEEE-deterministic
    # on both engines, while round() can flip on half-decimal ties
    rolling = F.sum("rev_e4").over(w) / (10000.0 * F.count(F.lit(1)).over(w))
    return daily.select(
        "day", "revenue", rolling.alias("rolling_30d")
    ).drop("rev_e4")


# --------------------------------------------------------------------------- #
# q14 — cumulative sum over ordered bins                                      #
# --------------------------------------------------------------------------- #

@register(
    "q14_cumulative",
    operators=("W2", "A6"),
    oracle="""
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, count(*) AS n
  FROM orders GROUP BY 1
)
SELECT day, n,
       CAST(sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
FROM daily
""",
)
def q14_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distribution over ordered bins (ref: np.cumsum over
    histogram counts, cosmo/monitors/dark_monitors.py:404)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select("day", "n", F.sum("n").over(w).alias("cum_n"))


# --------------------------------------------------------------------------- #
# q15 — centered boxcar smoothing                                             #
# --------------------------------------------------------------------------- #

@register(
    "q15_boxcar",
    operators=("W3",),
    oracle="""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, round(avg(value), 6) AS v,
         CAST(round(avg(value) * 1000000) AS BIGINT) AS v_e6
  FROM events GROUP BY 1
)
SELECT day, v,
       sum(v_e6) OVER w / (1000000.0 * count(*) OVER w) AS smoothed
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)
""",
)
def q15_boxcar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Width-4 boxcar kernel smoothing (ref: astropy Box1DKernel(4) over
    monthly solar flux, cosmo/monitors/dark_monitors.py:124-127) — a centered
    rows-window mean; no convolution library needed."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.round(F.avg("value"), 6).alias("v"),
        F.round(F.avg("value") * 1e6).cast("long").alias("v_e6"),
    )
    # integer rolling-sum / count: exact under any summation order
    w = Window.orderBy("day").rowsBetween(-2, 1)
    smoothed = F.sum("v_e6").over(w) / (1e6 * F.count(F.lit(1)).over(w))
    return daily.select("day", "v", smoothed.alias("smoothed"))


# --------------------------------------------------------------------------- #
# q16 — value relative to first sample per key                                #
# --------------------------------------------------------------------------- #

@register(
    "q16_first_relative",
    operators=("W4", "P13"),
    oracle="""
SELECT event_id, user_id,
       round(value - first_value(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id), 6) AS rel_value
FROM events
WHERE user_id < 100
""",
)
def q16_first_relative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-relative-to-first-flash (ref: REL_SHIFT = SHIFT - SHIFT[0],
    cosmo/monitors/osm_drift_monitors.py:21-27) in window form; the array
    form is cosmo_spark.functions.arrays.rel_to_first.

    Deterministic ordering via (ts, event_id) tiebreak.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id",
        F.round(F.col("value") - F.first("value").over(w), 6).alias("rel_value"),
    )


# --------------------------------------------------------------------------- #
# q17 — as-of join (last value at-or-before probe time)                       #
# --------------------------------------------------------------------------- #

@register(
    "q17_asof_join",
    operators=("J8", "W5", "O2"),
    oracle="""
SELECT p.event_id, p.user_id,
       round(p.value, 6) AS purchase_value,
       round(s.value, 6) AS last_login_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'login' OR event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
""",
)
def q17_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each probe row, the last series value at-or-before its
    timestamp (ref: step_wise stepwise interpolation,
    cosmo/monitors/telemetry_monitors.py:428-457; find_closest_date :172-176).

    Spark has no native as-of join; implemented via the union trick —
    tag probes and series, then ``last(value, ignorenulls)`` over a
    (key, time, tag) ordered window.  One shuffle on the key; no range
    explosion.  The reusable operator is cosmo_spark.operators.asof.asof_join.
    """
    from cosmo_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    probes = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    series = e.filter(F.col("event_type").isin("login", "signup")).select(
        "user_id", "ts", F.col("value").alias("series_value")
    )
    joined = asof_join(probes, series, on="user_id", time_col="ts",
                       value_cols=["series_value"])
    return joined.select(
        "event_id", "user_id",
        F.round("value", 6).alias("purchase_value"),
        F.round("series_value", 6).alias("last_login_value"),
    )


# --------------------------------------------------------------------------- #
# q47 — sessionization (gap-based)                                            #
# --------------------------------------------------------------------------- #

@register(
    "q47_sessionize",
    operators=("W2", "W6", "ST4"),
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, ts,
         epoch(ts) - lag(epoch(ts)) OVER w AS gap_sec
  FROM events WHERE user_id < 200
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), tagged AS (
  SELECT *, CAST(sum(CASE WHEN gap_sec IS NULL OR gap_sec > 1800
                          THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM ordered
)
SELECT user_id, session_id,
       count(*) AS n_events,
       round(epoch(max(ts)) - epoch(min(ts)), 3) AS duration_sec
FROM tagged GROUP BY user_id, session_id
""",
)
def q47_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after a >30 min gap;
    session id = running count of session starts (lag + cumulative sum).
    The batch formulation of a session window — no stateful operator needed
    when history is at rest.

    Scale: two windows over the same (user, time) partitioning — one
    shuffle; AQE splits skewed users.  Deterministic via event_id tiebreak.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    sec = F.unix_micros("ts") / 1e6
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = sec - F.lag(sec).over(w)
    tagged = e.withColumn(
        "session_start",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("session_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return tagged.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.unix_micros(F.max("ts")) / 1e6 - F.unix_micros(F.min("ts")) / 1e6, 3
        ).alias("duration_sec"),
    )


# --------------------------------------------------------------------------- #
# q21 — event-time binned rates                                               #
# --------------------------------------------------------------------------- #

@register(
    "q21_binned_event_rate",
    operators=("A9", "ST4"),
    oracle="""
SELECT event_type,
       CAST(floor(epoch(ts) / 1500) AS BIGINT) AS bucket,
       count(*) AS n,
       round(count(*) / 1500.0, 8) AS rate_per_sec
FROM events
GROUP BY 1, 2
""",
)
def q21_binned_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time binning into fixed windows + rate (ref: dark-rate 25 s
    histogram, cosmo/monitors/dark_monitors.py:53-98).  Batch form of a
    tumbling window — the streaming twin is
    cosmo_spark.streaming.rates.windowed_rates."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.floor(F.unix_micros("ts") / F.lit(1500e6)).cast("long").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type", "bucket", "n",
            F.round(F.col("n") / 1500.0, 8).alias("rate_per_sec"),
        )
    )


# --------------------------------------------------------------------------- #
# q49 — Structured Streaming tumbling-window rates (end-to-end)               #
# --------------------------------------------------------------------------- #

@register(
    "q49_stream_window_rates",
    operators=("ST1", "ST4", "A9"),
    oracle="""
SELECT event_type,
       strftime(make_timestamp(CAST(floor(epoch(ts) / 21600) AS BIGINT)
                               * 21600 * 1000000),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n,
       round(count(*) / 21600.0, 8) AS rate_per_sec
FROM events GROUP BY 1, 2
""",
)
def q49_stream_window_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming run of the event-rate pipeline
    (ref: dark-rate binning, cosmo/monitors/dark_monitors.py:53-98; the
    incremental-arrival semantics of SURVEY.md ST1/ST4): availableNow file
    stream over the events table -> watermarked 6 h tumbling-window counts
    (cosmo_spark.streaming.rates.windowed_rates, same code path as batch) ->
    memory sink in complete mode, so the emitted windows are exact and
    hash-comparable against the batch oracle.  At scale the memory sink
    becomes a Delta/parquet sink and availableNow a continuous trigger; the
    plan (partial agg -> shuffle on (event_type, window) -> state store) is
    unchanged.  Windows are epoch-aligned and the session is pinned to UTC,
    so window_start equals floor(epoch/21600)*21600 on both engines.
    """
    from cosmo_spark.sources.tables import _normalize_ts
    from cosmo_spark.streaming.rates import windowed_rates

    tune_session(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    rates = windowed_rates(
        _normalize_ts(stream), time_col="ts", window="6 hours",
        watermark="2 minutes", group_cols=("event_type",),
    )
    sink = "q49_stream_rates_sink"
    spark.catalog.dropTempView(sink)
    query = (
        rates.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    query.awaitTermination()
    return spark.table(sink).select(
        "event_type",
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n",
        F.round("rate_per_sec", 8).alias("rate_per_sec"),
    )


# --------------------------------------------------------------------------- #
# q22 — per-group linear regression                                           #
# --------------------------------------------------------------------------- #

@register(
    "q22_regression",
    operators=("F3",),
    oracle="""
SELECT event_type,
       round(regr_slope(value, epoch(ts) / 86400.0), 6)     AS slope_per_day,
       round(regr_intercept(value, epoch(ts) / 86400.0), 4) AS intercept,
       count(*) AS n
FROM events
GROUP BY event_type
""",
)
def q22_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-1 trend fit per group (ref: np.polyfit in fit_line,
    cosmo/monitor_helpers.py:28-32) via built-in regr_* aggregates — stays
    JVM-side, partial-aggregatable, no UDF."""
    e = _t(spark, sf_dir, "events")
    x = F.unix_micros("ts") / F.lit(86400e6)
    return e.groupBy("event_type").agg(
        F.round(F.regr_slope(F.col("value"), x), 6).alias("slope_per_day"),
        F.round(F.regr_intercept(F.col("value"), x), 4).alias("intercept"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------- #
# q23 — JSON property extraction                                              #
# --------------------------------------------------------------------------- #

@register(
    "q23_json_props",
    operators=("S12",),
    oracle="""
SELECT event_type,
       round(avg(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)), 6)
         AS avg_k,
       max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
)
def q23_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property extraction (ref: nested JSON scans,
    cosmo/monitors/telemetry_monitors.py:278-298, dark_monitors.py:101-129).
    Extraction via regexp for engine-portable semantics; in production
    ``from_json`` with an explicit schema is the Spark-native path."""
    e = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", '"k": ([0-9]+)', 1).cast("long")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 6).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


# --------------------------------------------------------------------------- #
# q24 — conditional flag partition (SAA analog)                               #
# --------------------------------------------------------------------------- #

@register(
    "q24_conditional_flag",
    operators=("P6",),
    oracle="""
SELECT (CASE WHEN value > 50 OR extract(hour FROM ts) < 6 THEN 1 ELSE 0 END)
         AS flagged,
       count(*) AS n,
       round(avg(value), 6) AS avg_value
FROM events
GROUP BY 1
""",
)
def q24_conditional_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean flag column + partition count (ref: SAA geographic flag
    ``lat > 10 or lon < 260`` evaluated as an expression string,
    cosmo/monitors/dark_monitors.py:195-198)."""
    e = _t(spark, sf_dir, "events")
    flag = F.when((F.col("value") > 50) | (F.hour("ts") < 6), 1).otherwise(0)
    return e.groupBy(flag.alias("flagged")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


# --------------------------------------------------------------------------- #
# q25 — MJD time kernel round-trip                                            #
# --------------------------------------------------------------------------- #

@register(
    "q25_time_kernel",
    operators=("P10", "P15"),
    oracle="""
SELECT event_id,
       round(epoch(ts) / 86400.0 + 40587.0, 8)       AS mjd,
       strftime(ts, '%Y.%j')                          AS doy,
       round(extract(year FROM ts)
             + (dayofyear(ts) - 1
                + (extract(hour FROM ts) * 3600
                   + extract(minute FROM ts) * 60
                   + extract(second FROM ts)) / 86400.0)
             / (CASE WHEN (extract(year FROM ts) % 4 = 0
                           AND (extract(year FROM ts) % 100 <> 0
                                OR extract(year FROM ts) % 400 = 0))
                     THEN 366.0 ELSE 365.0 END), 8)   AS dec_year
FROM events
WHERE user_id < 50
""",
)
def q25_time_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MJD/day-of-year/decimal-year time kernel (ref: astropy Time
    conversions, cosmo/monitor_helpers.py:15-25,52-76;
    cosmo/monitors/acq_monitors.py:241-242) as pure column expressions."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return e.select(
        "event_id",
        F.round(ts_to_mjd("ts"), 8).alias("mjd"),
        ts_to_doy_str("ts").alias("doy"),
        F.round(decimal_year("ts"), 8).alias("dec_year"),
    )


# --------------------------------------------------------------------------- #
# q52 — NOAA solar-flux pipeline: sentinel -> trim -> Box1DKernel smoothing   #
# --------------------------------------------------------------------------- #

@register(
    "q52_solar_flux_smooth",
    operators=("S12", "P8", "W3"),
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS DOUBLE) AS raw
  FROM events GROUP BY 1
), sentinel AS (
  -- synthetic NOAA feed: every 13th day-of-month reports the -1 sentinel
  SELECT d, CASE WHEN extract(day FROM d) % 13 = 0 THEN -1.0 ELSE raw END AS raw
  FROM daily
), clean AS (
  SELECT d, CASE WHEN raw < 0 THEN NULL ELSE raw END AS flux
  FROM sentinel
  WHERE d >= TIMESTAMP '2024-01-08' AND d <= TIMESTAMP '2024-03-01'
), taps AS (
  SELECT d, flux,
         lag(flux, 2)  OVER w AS l2, lag(1, 2)  OVER w AS e_l2,
         lag(flux, 1)  OVER w AS l1, lag(1, 1)  OVER w AS e_l1,
         lead(flux, 1) OVER w AS n1, lead(1, 1) OVER w AS e_n1,
         lead(flux, 2) OVER w AS n2, lead(1, 2) OVER w AS e_n2
  FROM clean WINDOW w AS (ORDER BY d)
)
SELECT strftime(d, '%Y-%m-%d') AS day, flux,
       -- zero-fill edges: a tap past the series boundary keeps its weight
       -- (value 0); only an in-series NULL gap drops out of the mass
       (0.5 * coalesce(l2, 0) + coalesce(l1, 0) + coalesce(flux, 0)
          + coalesce(n1, 0) + 0.5 * coalesce(n2, 0))
       -- NULLIF mirrors the Spark side's den > 0 guard: if the entire
       -- kernel support is in-series NULLs the result is NULL, not 0/0
       / NULLIF(CASE WHEN e_l2 IS NOT NULL AND l2 IS NULL THEN 0 ELSE 0.5 END
          + CASE WHEN e_l1 IS NOT NULL AND l1 IS NULL THEN 0 ELSE 1 END
          + CASE WHEN flux IS NULL THEN 0 ELSE 1 END
          + CASE WHEN e_n1 IS NOT NULL AND n1 IS NULL THEN 0 ELSE 1 END
          + CASE WHEN e_n2 IS NOT NULL AND n2 IS NULL THEN 0 ELSE 0.5 END, 0)
       AS flux_smooth
FROM taps
""",
)
def q52_solar_flux_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOAA solar-flux ingest pipeline (ref: get_solar_data,
    cosmo/monitors/dark_monitors.py:101-129) over a synthetic feed derived
    from the events table: -1 sentinel -> null, date trim BEFORE smoothing,
    then the exact astropy Box1DKernel(4) convolution (5 taps with
    half-weight endpoints; NULL gaps renormalized out of the weight mass,
    series edges zero-filled at full weight per astropy's default
    boundary='fill', fill_value=0) via operators.windows.box1d_smooth.

    The daily flux is an integer count cast to double, so the smoothing
    arithmetic is bit-identical across engines without rounding.  The real
    source reader (JSON month series) is sources/solar.py; this query gates
    the transform semantics.
    """
    from cosmo_spark.operators.windows import box1d_smooth

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("raw")
    )
    sent = daily.withColumn(
        "flux",
        F.when(F.dayofmonth("d") % 13 == 0, F.lit(-1.0)).otherwise(F.col("raw")),
    )
    clean = (
        sent.withColumn(
            "flux", F.when(F.col("flux") < 0, F.lit(None)).otherwise(F.col("flux"))
        )
        .filter(
            (F.col("d") >= F.lit("2024-01-08").cast("timestamp"))
            & (F.col("d") <= F.lit("2024-03-01").cast("timestamp"))
        )
    )
    smoothed = box1d_smooth(clean, "d", "flux", box=4, out_col="flux_smooth")
    return smoothed.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"), "flux", "flux_smooth"
    )


# --------------------------------------------------------------------------- #
# q54 — built-in session windows (gap-merged), the streaming-native twin      #
# --------------------------------------------------------------------------- #

@register(
    "q54_session_window",
    operators=("ST4", "W6", "A11"),
    oracle="""
WITH flag AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flag
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 1800 SECOND, '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
)
def q54_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via Spark's native ``session_window`` — the
    streaming-capable twin of q47's lag/cumsum islands: the same groupBy
    runs unchanged under ``readStream`` with a watermark, where the state
    store merges windows incrementally (q47's unbounded window form cannot
    stream).  Session = events within 30 min of the session's end; window
    end = last event + gap, matching the oracle's islands formulation with
    a ``diff >= gap`` break.

    Scale: one shuffle on user_id; sessions merge inside
    ``session_window``'s aggregation buffer — no per-user window sort of
    the whole history like q47's form.
    """
    e = _t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        e.groupBy("user_id", sw)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss")
             .alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss")
             .alias("session_end"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------- #
# q56 — running per-key mean/std (batch twin of the stateful stream)          #
# --------------------------------------------------------------------------- #

@register(
    "q56_running_stats",
    operators=("W2", "A2", "ST5"),
    oracle="""
WITH e AS (
  SELECT event_type, ts, event_id, CAST(round(value * 100) AS BIGINT) AS v2
  FROM events WHERE user_id < 20
), w AS (
  SELECT event_type, event_id,
         count(*) OVER win AS n,
         CAST(sum(v2) OVER win AS DOUBLE) AS s,
         CAST(sum(v2 * v2) OVER win AS DOUBLE) AS ss
  FROM e
  WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
)
SELECT event_type, event_id, n,
       s / (100.0 * n) AS running_mean,
       CASE WHEN n > 1 THEN
         sqrt(greatest((ss - s * s / n) / (n - 1), 0.0)) / 100.0 END AS running_std
FROM w
""",
)
def q56_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running mean/std over event time — the batch twin of the
    ``applyInPandasWithState`` Welford monitor (streaming/stateful.py): the
    same numbers the stateful stream carries in its state dict, here as
    cumulative window aggregates.

    Bit-parity discipline (docs/PARITY.md rules 3/7): values are converted
    to exact integer hundredths BEFORE the window, so cumulative sums are
    exact in any evaluation order (DuckDB windows may use segment trees);
    the mean/variance then come from single IEEE divisions of identical
    operands on both engines — no rounding needed or wanted.  Sums are cast
    to double before squaring: s² overflows int64 at this row count while
    s itself is still exactly representable in float64.
    """
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .select(
            "event_type", "ts", "event_id",
            F.round(F.col("value") * 100).cast("long").alias("v2"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.sum("v2").over(w).cast("double")
    ss = F.sum(F.col("v2") * F.col("v2")).over(w).cast("double")
    var = (ss - s * s / n) / (n - F.lit(1))
    return e.select(
        "event_type",
        "event_id",
        n.alias("n"),
        (s / (F.lit(100.0) * n)).alias("running_mean"),
        F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0))) / F.lit(100.0))
         .alias("running_std"),
    )


# --------------------------------------------------------------------------- #
# q92 — ordered funnel conversion (view -> click -> purchase)                  #
# --------------------------------------------------------------------------- #

@register(
    "q92_funnel_conversion",
    operators=("A4", "A14", "J1"),
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY e.user_id
), n AS (
  SELECT 1 AS step, 'view' AS step_name, CAST(count(*) AS BIGINT) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
)
SELECT step, step_name, n_users,
       round(n_users / CAST(NULLIF(lag(n_users) OVER (ORDER BY step), 0)
             AS DOUBLE), 6) AS conv_from_prev,
       round(n_users / CAST(NULLIF(first_value(n_users)
             OVER (ORDER BY step), 0) AS DOUBLE), 6) AS conv_from_first
FROM n
""",
)
def q92_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion — the product-analytics primitive the
    catalog's sessionization (q47/q54) doesn't cover: per user, step k's
    timestamp is the EARLIEST qualifying event at-or-after step k-1's, so
    a click before any view does not count, and conversion rates are
    per-step user survival.

    Scale shape: each step is one keyed partial aggregation over the
    events scan joined to the PREVIOUS step's user-level frame (user-id
    keyed equi-join — AQE-splittable, never a per-user ordered window over
    raw events), and the final 3-row frame takes the only unpartitioned
    window.  At 100 TB, step frames are one row per surviving user —
    monotonically shrinking."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    e = e.filter(F.col("user_id").isNotNull())
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    rows = None
    for step, name, frame in ((1, "view", s1), (2, "click", s2), (3, "purchase", s3)):
        r = frame.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(step).alias("step"), F.lit(name).alias("step_name"), "n_users"
        )
        rows = r if rows is None else rows.unionByName(r)
    w = Window.orderBy("step")
    prev = F.lag("n_users").over(w)
    first = F.first("n_users").over(w)
    return rows.select(
        "step", "step_name", "n_users",
        F.round(
            F.col("n_users") / F.nullif(prev, F.lit(0)).cast("double"), 6
        ).alias("conv_from_prev"),
        F.round(
            F.col("n_users") / F.nullif(first, F.lit(0)).cast("double"), 6
        ).alias("conv_from_first"),
    )


# --------------------------------------------------------------------------- #
# q115 — gap-fill resample with linear interpolation                          #
# --------------------------------------------------------------------------- #

_Q115_ORACLE = """
WITH obs AS (
  SELECT user_id, ts, value, event_id FROM events
  WHERE user_id < 50 AND value IS NOT NULL AND ts IS NOT NULL
), bounds AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS t0, max(ts) AS t1
  FROM obs GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS t
  FROM bounds
), u AS (
  SELECT user_id, t, CAST(NULL AS DOUBLE) AS v, 1 AS is_grid,
         CAST(-1 AS BIGINT) AS ev
  FROM grid
  UNION ALL
  SELECT user_id, ts AS t, value AS v, 0 AS is_grid, event_id AS ev FROM obs
), tagged AS (
  SELECT user_id, t, epoch_us(t) AS t_us, v, is_grid, ev,
         CASE WHEN is_grid = 0 THEN epoch_us(t) END AS obs_us
  FROM u
), filled AS (
  SELECT user_id, t, t_us, is_grid,
         last_value(v IGNORE NULLS) OVER wf AS prev_v,
         last_value(obs_us IGNORE NULLS) OVER wf AS prev_us,
         last_value(v IGNORE NULLS) OVER wb AS next_v,
         last_value(obs_us IGNORE NULLS) OVER wb AS next_us
  FROM tagged
  WINDOW
    -- ev tiebreak: two same-timestamp observations must pick the SAME
    -- neighbor in both engines (grid rows carry ev = -1, a non-null
    -- sentinel, because NULL ordering differs across engines)
    wf AS (PARTITION BY user_id ORDER BY t_us, is_grid, ev
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wb AS (PARTITION BY user_id ORDER BY t_us DESC, is_grid ASC, ev DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, strftime(t, '%Y-%m-%d %H:%M:%S') AS grid_ts,
       round(CASE
         WHEN prev_us IS NULL THEN next_v
         WHEN next_us IS NULL THEN prev_v
         WHEN next_us = prev_us THEN prev_v
         ELSE prev_v + (next_v - prev_v)
              * (CAST(t_us - prev_us AS DOUBLE)
                 / CAST(next_us - prev_us AS DOUBLE))
       END, 6) AS value_interp
FROM filled WHERE is_grid = 1
"""


@register("q115_resample_interpolate", operators=("W5", "W4"), oracle=_Q115_ORACLE)
def q115_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill resampling: each user's irregular value series re-sampled
    onto a fixed hourly grid with LINEAR interpolation between the
    surrounding observations (endpoints clamp to the nearest value) — the
    telemetry regularization step upstream of any fixed-step model
    (ref: the stepwise/as-of interpolation family,
    cosmo/monitors/telemetry docstrings; q17 carries the LAST value, this
    blends both neighbors).

    Shape: the q17 union trick generalized to BOTH directions — grid
    points and observations union into one stream, a forward and a
    backward ordered window (partitioned per user: the many-keys
    telemetry shape, bounded rows per key — W-class precedent q16/q17)
    carry the nearest observation's (value, epoch) each way, and the
    blend is one arithmetic expression.  No join of grid x observations
    ever happens.  Exact-hit grid points (next_us == prev_us) take the
    observed value, so the division can never see a zero denominator;
    epoch arithmetic is integer microseconds with ONE final double
    division mirrored in the oracle."""
    e = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") < 50)
        & F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select("user_id", "ts", "value", "event_id")
    bounds = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.max("ts").alias("t1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("t"),
    )
    # ev tiebreak (review r7): two same-timestamp observations with
    # different values must resolve to the SAME neighbor in both engines;
    # grid rows carry a non-null -1 sentinel because NULL ordering
    # diverges between Spark (NULLS FIRST) and DuckDB (NULLS LAST)
    u = grid.select(
        "user_id", "t", F.lit(None).cast("double").alias("v"),
        F.lit(1).alias("is_grid"), F.lit(-1).cast("long").alias("ev"),
    ).unionByName(
        e.select(
            "user_id", F.col("ts").alias("t"), F.col("value").alias("v"),
            F.lit(0).alias("is_grid"), F.col("event_id").alias("ev"),
        )
    )
    tagged = u.select(
        "user_id", "t", F.unix_micros("t").alias("t_us"), "v", "is_grid",
        "ev",
        F.when(F.col("is_grid") == 0, F.unix_micros("t")).alias("obs_us"),
    )
    wf = (
        Window.partitionBy("user_id").orderBy("t_us", "is_grid", "ev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("t_us"), F.asc("is_grid"), F.desc("ev"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.select(
        "user_id", "t", "t_us", "is_grid",
        F.last("v", ignorenulls=True).over(wf).alias("prev_v"),
        F.last("obs_us", ignorenulls=True).over(wf).alias("prev_us"),
        F.last("v", ignorenulls=True).over(wb).alias("next_v"),
        F.last("obs_us", ignorenulls=True).over(wb).alias("next_us"),
    )
    interp = (
        F.when(F.col("prev_us").isNull(), F.col("next_v"))
        .when(F.col("next_us").isNull(), F.col("prev_v"))
        .when(F.col("next_us") == F.col("prev_us"), F.col("prev_v"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (
                (F.col("t_us") - F.col("prev_us")).cast("double")
                / (F.col("next_us") - F.col("prev_us")).cast("double")
            )
        )
    )
    return filled.filter(F.col("is_grid") == 1).select(
        "user_id",
        F.date_format("t", "yyyy-MM-dd HH:mm:ss").alias("grid_ts"),
        F.round(interp, 6).alias("value_interp"),
    )


# --------------------------------------------------------------------------- #
# q128 — exponential time-decay activity scores (integer decay table)          #
# --------------------------------------------------------------------------- #

_Q128_HALF_LIFE = 30  # days
_Q128_HORIZON = 365   # ages beyond this decay to exactly 0

#: decay weights round(2^(-age/half_life) * 1e6), Python-computed ONCE so
#: neither engine calls pow() at query time (q107 lookup-table discipline)
_Q128_W = [
    round((2.0 ** (-(a / _Q128_HALF_LIFE))) * 1_000_000)
    for a in range(_Q128_HORIZON)
]


def _q128_oracle() -> str:
    table = ", ".join(str(w) for w in _Q128_W)
    return f"""
WITH ref AS (SELECT CAST(max(ts) AS DATE) AS refd FROM events),
ev AS (
  SELECT e.event_type,
         date_diff('day', CAST(e.ts AS DATE), r.refd) AS age
  FROM events e CROSS JOIN ref r
  WHERE e.ts IS NOT NULL AND e.event_type IS NOT NULL
), wtd AS (
  SELECT event_type,
         CASE WHEN age >= 0 AND age < {_Q128_HORIZON}
              THEN [{table}][age + 1] ELSE 0 END AS w
  FROM ev
)
SELECT event_type, count(*) AS n,
       CAST(sum(w) AS BIGINT) AS decayed_millionths,
       round(CAST(sum(w) AS DOUBLE) / 1000000.0, 6) AS decayed_count
FROM wtd GROUP BY event_type
"""


@register("q128_time_decay_score", operators=("A4", "P10"),
          oracle=_q128_oracle())
def q128_time_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted activity score per event type: every event votes
    2^(-age/30d), so the score IS the half-life-decayed event count —
    the standard freshness signal for trending/engagement dashboards
    and for recency-weighted source mixing.

    Determinism: the decay curve is a 365-entry INTEGER table
    (round(2^(-a/30) * 1e6)) computed once in Python and embedded in
    both engines — no pow() at query time (engine libm divergence), and
    the per-group accumulation is exact BIGINT, order-independent (the
    q118/q107 discipline).  The reference date is max(ts) — data-derived,
    so the query is reproducible on a frozen corpus (no wall clock; a
    live deployment would pass today's date).

    Scale shape: the reference date is a broadcast 1-row aggregate; the
    weight lookup is a per-row array index (element_at over a literal
    array); ONE map-side-combined groupBy ends it."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    ref = ev.agg(F.max(F.to_date("ts")).alias("refd"))
    aged = ev.crossJoin(F.broadcast(ref)).select(
        "event_type",
        F.datediff(F.col("refd"), F.to_date("ts")).alias("age"),
    )
    wtab = F.array(*[F.lit(w) for w in _Q128_W])
    wtd = aged.select(
        "event_type",
        F.when(
            (F.col("age") >= 0) & (F.col("age") < _Q128_HORIZON),
            F.element_at(wtab, F.col("age") + 1),
        ).otherwise(F.lit(0)).alias("w"),
    )
    return wtd.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("w").alias("decayed_millionths"),
        F.round(F.sum("w").cast("double") / F.lit(1000000.0), 6)
          .alias("decayed_count"),
    )


# --------------------------------------------------------------------------- #
# q129 — conversion-latency deciles: exact distributed multi-quantile          #
# --------------------------------------------------------------------------- #

_Q129_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' AND ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_conv
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= v.t_view
  GROUP BY e.user_id
), lat AS (
  SELECT epoch_us(p.t_conv) - epoch_us(v.t_view) AS lat_us
  FROM p JOIN v ON v.user_id = p.user_id
), vb AS (
  SELECT lat_us, count(*) AS c FROM lat GROUP BY lat_us
), cum AS (
  SELECT lat_us, c,
         CAST(sum(c) OVER (ORDER BY lat_us) AS BIGINT) AS cw,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM vb
), dec AS (SELECT unnest(range(10, 100, 10)) AS decile)
SELECT d.decile, min(cum.lat_us) // 1000000 AS latency_sec,
       min(cum.n) AS n_converted
FROM dec d JOIN cum ON 100 * cum.cw >= d.decile * cum.n
GROUP BY d.decile
"""


@register("q129_conversion_latency", operators=("A6", "J1"),
          oracle=_Q129_ORACLE)
def q129_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact view→purchase conversion-latency deciles — the
    time-to-convert distribution (p10..p90) product analytics reports
    next to q92's step rates.  Latency = first purchase at-or-after the
    user's first view, in whole seconds.

    Exact distributed MULTI-quantile selection, generalizing q104's
    single median: per-value counts + the cumulative table give every
    decile as min{v : 100*cum(v) >= d*n} — INTEGER arithmetic end to end
    (epoch-second latencies, integer thresholds; ceil(d*n/100) <= cum is
    exactly 100*cum >= d*n for integer cum), so parity needs no float
    discipline at all.  No sort of user rows anywhere: two keyed min
    aggregations (events scan -> one row per converting user), a
    value-level aggregate, and a 9-literal broadcast grid."""
    from cosmo_spark.operators.robust import grouped_less_cumsum

    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_conv"))
    )
    lat = p.join(v, "user_id").select(
        (F.unix_micros("t_conv") - F.unix_micros("t_view"))
        .alias("lat_us")
    )
    lc = grouped_less_cumsum(lat, None, "lat_us")
    cv = lat.groupBy("lat_us").agg(F.count(F.lit(1)).alias("c"))
    cum = lc.join(cv, "lat_us").select(
        "lat_us",
        (F.col("less") + F.col("c")).alias("cw"),
        F.col("grp_total").alias("n"),
    )
    dec = F.explode(F.array(*[F.lit(d).cast("long") for d in range(10, 100, 10)]))
    grid = cum.select("lat_us", "cw", "n", dec.alias("decile"))
    return (
        grid.filter(100 * F.col("cw") >= F.col("decile") * F.col("n"))
        .groupBy("decile")
        .agg(
            F.expr("min(lat_us) div 1000000").alias("latency_sec"),
            F.min("n").alias("n_converted"),
        )
    )


# --------------------------------------------------------------------------- #
# q137 — event-type transition matrix (first-order Markov over user streams)   #
# --------------------------------------------------------------------------- #

_Q137_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
), trans AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n_trans
  FROM ordered WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
), tot AS (
  SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
  FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, t.n_trans,
       round(t.n_trans / CAST(o.n_from AS DOUBLE), 6) AS p
FROM trans t JOIN tot o USING (from_type)
"""


@register("q137_event_transitions", operators=("W6", "A11", "J2"),
          oracle=_Q137_ORACLE)
def q137_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    consecutive (event → next event) pairs within each user's timeline,
    counted and row-normalized into transition probabilities — the
    sequence-modeling prior every behavioral pipeline derives (and the
    event-stream sibling of q101's token-bigram language model).

    Scale shape: ONE shuffle — the per-user ordered window (event_id
    tiebreak, the q47 discipline; AQE splits skewed users) — then a
    map-side-combining (from, to) count whose output is |types|² rows;
    normalization joins the broadcast per-from totals.  No fact-scale
    join anywhere."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = trans.groupBy("from_type").agg(F.sum("n_trans").alias("n_from"))
    return trans.join(F.broadcast(tot), "from_type").select(
        "from_type", "to_type", "n_trans",
        F.round(F.col("n_trans") / F.col("n_from").cast("double"), 6)
         .alias("p"),
    )


# --------------------------------------------------------------------------- #
# q138 — DAU / MAU stickiness                                                  #
# --------------------------------------------------------------------------- #

_Q138_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
), um AS (
  SELECT DISTINCT user_id, substr(day, 1, 7) AS month FROM ud
), mau AS (
  SELECT month, CAST(count(*) AS BIGINT) AS mau FROM um GROUP BY month
)
SELECT d.day, d.dau, m.mau,
       round(d.dau / CAST(m.mau AS DOUBLE), 6) AS stickiness
FROM dau d JOIN mau m ON substr(d.day, 1, 7) = m.month
"""


@register("q138_dau_mau_stickiness", operators=("A12", "A9", "J2"),
          oracle=_Q138_ORACLE)
def q138_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness — the growth-analytics engagement ratio: per
    calendar day, distinct active users over that day's calendar-month
    distinct actives.  Sibling of q112's retention triangle (cohorts) on
    the same distinct-activity backbone.

    Scale shape: ONE distinct (user, day) aggregate bounds everything —
    at 100 TB the activity table is users × days, orders below the fact
    stream; DAU and MAU are aggregates of that table and the final join
    is day-keyed against a broadcast month frame.  Dates ride as strings
    (engine-agnostic lexicographic months; the catalog's timestamp
    discipline)."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    ud = e.select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    um = ud.select(
        "user_id", F.substring("day", 1, 7).alias("month")
    ).distinct()
    mau = um.groupBy("month").agg(F.count(F.lit(1)).alias("mau"))
    return (
        dau.withColumn("month", F.substring("day", 1, 7))
        .join(F.broadcast(mau), "month")
        .select(
            "day", "dau", "mau",
            F.round(F.col("dau") / F.col("mau").cast("double"), 6)
             .alias("stickiness"),
        )
    )


# --------------------------------------------------------------------------- #
# q139 — per-user activity entropy (behavioral diversity)                      #
# --------------------------------------------------------------------------- #

_Q139_ORACLE = """
WITH tc AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(sum(c) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_types,
       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
FROM tc GROUP BY user_id
"""


@register("q139_activity_entropy", operators=("A11", "A4"),
          oracle=_Q139_ORACLE)
def q139_activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type mix — the behavioral
    diversity score (bots/monitors pin near 0, exploratory users approach
    ln(|types|)); the event-stream twin of q53's text-entropy quality
    signal, using the same single-division identity
    ``ln(n) − Σ c·ln(c) / n`` so both engines stay IEEE-identical.

    Scale shape: one map-side-combining (user, type) count, then a
    user-keyed aggregate over ≤ |types| rows per user.  All counts exact
    BIGINT; the two ln calls run on integers both engines agree on."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    tc = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    return tc.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            / F.sum("c").cast("double"),
            6,
        ).alias("entropy"),
    )


# --------------------------------------------------------------------------- #
# q143 — HDR-histogram quantile sketch (bounded-state percentiles)             #
# --------------------------------------------------------------------------- #

def _q143_oracle() -> str:
    from cosmo_spark.operators.sketches import (
        hdr_bucket_duck_sql,
        hdr_low_duck_sql,
    )

    return f"""
WITH ev AS (
  SELECT event_type, CAST(floor(value * 1000000.0) AS BIGINT) AS mic
  FROM events
  WHERE value IS NOT NULL AND value > 0 AND event_type IS NOT NULL
), bk AS (
  SELECT event_type, {hdr_bucket_duck_sql("mic")} AS bucket FROM ev
), counts AS (
  SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM bk GROUP BY event_type, bucket
), cum AS (
  SELECT event_type, bucket, cnt,
         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
  FROM counts
), tot AS (
  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM counts
  GROUP BY event_type
), grid AS (
  SELECT c.event_type, c.bucket, c.cw, t.n, q.quantile
  FROM cum c JOIN tot t USING (event_type)
  CROSS JOIN (SELECT unnest([50, 90, 99]) AS quantile) q
), sel AS (
  SELECT event_type, quantile, min(bucket) AS b, min(n) AS n
  FROM grid WHERE 100 * cw >= quantile * n
  GROUP BY event_type, quantile
)
SELECT event_type, CAST(quantile AS BIGINT) AS quantile,
       round(CAST({hdr_low_duck_sql("b")} AS DOUBLE) / 1000000.0, 6)
         AS est_value,
       n
FROM sel
"""


@register("q143_hdr_quantile_sketch", operators=("A6", "A11"),
          oracle=_q143_oracle())
def q143_hdr_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles from the HDR-histogram quantile sketch — the
    bounded-state, MERGEABLE alternative to the catalog's exact rank
    selection (q104/q129): positive values log-bucket into 64 sub-buckets
    per octave (operators/sketches HDR geometry — integer bit arithmetic,
    exact-region below 64), per-(type, bucket) counts merge by SUM, and
    p50/p90/p99 read off the cumulative bucket table within a 1/64
    relative band.  The same counts stream incrementally, per event-time
    window (streaming/sketches.stream_hdr_buckets_windowed, read back by
    hdr_quantile_estimates_windowed) — this query is the batch twin that
    certifies the geometry.

    Scale shape: ONE map-side-combining (type, bucket) count — state is
    ≤ ~4k buckets per type no matter how many rows — then window + joins
    over that tiny table.  The exact-quantile machinery shuffles value
    tables; this shuffles bucket counts."""
    from cosmo_spark.operators.sketches import (
        hdr_bucket_spark_sql,
        hdr_quantiles,
    )

    e = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
        & F.col("event_type").isNotNull()
    )
    bk = e.select(
        "event_type",
        F.expr("cast(floor(value * 1000000.0) as bigint)").alias("mic"),
    ).select(
        "event_type", F.expr(hdr_bucket_spark_sql("mic")).alias("bucket")
    )
    counts = bk.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return hdr_quantiles(counts, ["event_type"], (50, 90, 99))


# --------------------------------------------------------------------------- #
# q146 — horizon read over the WINDOWED HDR sketch register log                #
# --------------------------------------------------------------------------- #

#: day-aligned horizon cutoff — "p50/p90/p99 since Jan 15" over the 30-day
#: synthetic event range; day alignment makes the window filter (win >=
#: cutoff) EXACTLY equal to the raw-row filter (ts >= cutoff), which is
#: what lets the oracle compute over raw rows
_Q146_SINCE = "2024-01-15 00:00:00"


def _window_log_dir(sf_dir: str, kind: str) -> str:
    """At-rest windowed-register-log location, keyed by the events file's
    identity (path + mtime + size): a regenerated corpus gets a fresh
    log, sweep corpora never collide."""
    import hashlib
    from pathlib import Path

    from cosmo_spark.sources.tables import table_file_identity

    ident = repr(table_file_identity(sf_dir, "events"))
    key = hashlib.sha256(ident.encode()).hexdigest()[:16]
    root = Path(__file__).resolve().parents[2] / "spark-warehouse"
    return str(root / f"{kind}_windows" / key)


def _hdr_window_log_dir(sf_dir: str) -> str:
    return _window_log_dir(sf_dir, "hdr")


def ensure_hdr_window_log(spark: SparkSession, sf_dir: str) -> str:
    """Build the per-(event_type, day) HDR register log ONCE via the real
    streaming maintainer (streaming/sketches.stream_hdr_buckets_windowed
    — foreachBatch, availableNow, checkpointed) and mark it; returns the
    log path.  Production runs the maintainer continuously; the catalog
    query reads whatever the maintainer has accumulated."""
    import os

    from cosmo_spark.sources.tables import _normalize_ts
    from cosmo_spark.streaming.sketches import stream_hdr_buckets_windowed

    base = _hdr_window_log_dir(sf_dir)
    log = os.path.join(base, "log")
    marker = os.path.join(base, "_BUILT")
    if os.path.exists(marker):
        return log
    tune_session(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    q = stream_hdr_buckets_windowed(
        _normalize_ts(stream), "event_type", "value", "ts",
        bucket_path=log, checkpoint_dir=os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    open(marker, "w").close()
    return log


def _q146_oracle() -> str:
    from cosmo_spark.operators.sketches import (
        hdr_bucket_duck_sql,
        hdr_low_duck_sql,
    )

    return f"""
WITH ev AS (
  SELECT event_type, CAST(floor(value * 1000000.0) AS BIGINT) AS mic
  FROM events
  WHERE value IS NOT NULL AND value > 0 AND event_type IS NOT NULL
    AND ts IS NOT NULL AND ts >= TIMESTAMP '{_Q146_SINCE}'
), bk AS (
  SELECT event_type, {hdr_bucket_duck_sql("mic")} AS bucket FROM ev
), counts AS (
  SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM bk GROUP BY event_type, bucket
), cum AS (
  SELECT event_type, bucket, cnt,
         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
  FROM counts
), tot AS (
  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM counts
  GROUP BY event_type
), grid AS (
  SELECT c.event_type, c.bucket, c.cw, t.n, q.quantile
  FROM cum c JOIN tot t USING (event_type)
  CROSS JOIN (SELECT unnest([50, 90, 99]) AS quantile) q
), sel AS (
  SELECT event_type, quantile, min(bucket) AS b, min(n) AS n
  FROM grid WHERE 100 * cw >= quantile * n
  GROUP BY event_type, quantile
)
SELECT event_type, CAST(quantile AS BIGINT) AS quantile,
       round(CAST({hdr_low_duck_sql("b")} AS DOUBLE) / 1000000.0, 6)
         AS est_value,
       n
FROM sel
"""


@register("q146_hdr_horizon", operators=("A6", "ST4", "ST5"),
          oracle=_q146_oracle())
def q146_hdr_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'p50/p90/p99 since Jan 15' answered from the WINDOWED sketch
    register log (round-9 #5): the streaming maintainer
    (stream_hdr_buckets_windowed) accumulates per-(event_type, day) HDR
    bucket counts at rest; the horizon read filters in-horizon windows,
    SUM-merges their registers, and reads the percentiles — never
    touching a raw event.  The DuckDB oracle computes the same estimates
    over exactly the in-horizon RAW rows, so parity proves the windowed
    register algebra end-to-end: maintainer bucketing == batch bucketing,
    window merge == raw aggregation, and the day-aligned horizon filter
    loses nothing.  Eviction-safety (expire_windows of pre-horizon days
    leaves the answer bit-identical) is unit-gated alongside.

    Scale shape: the log is ≤ ~4k buckets × windows × types regardless of
    event volume; the read shuffles only that register table."""
    from cosmo_spark.streaming.sketches import hdr_quantile_estimates_windowed

    tune_session(spark)
    log = ensure_hdr_window_log(spark, sf_dir)
    import datetime as _dt

    since = _dt.datetime.strptime(_Q146_SINCE, "%Y-%m-%d %H:%M:%S")
    est = hdr_quantile_estimates_windowed(spark, log, since=since)
    return est.select(
        F.col("key").alias("event_type"),
        F.col("quantile").cast("long").alias("quantile"),
        "est_value", "n",
    )


# --------------------------------------------------------------------------- #
# q147 — horizon DISTINCT read over the WINDOWED HLL register log              #
# --------------------------------------------------------------------------- #

def _hll_window_log_dir(sf_dir: str) -> str:
    return _window_log_dir(sf_dir, "hll")


def ensure_hll_window_log(spark: SparkSession, sf_dir: str) -> str:
    """Build the per-(event_type, day) HLL register log once via the real
    streaming maintainer (stream_hll_registers_windowed); see
    ensure_hdr_window_log for the contract."""
    import os

    from cosmo_spark.sources.tables import _normalize_ts
    from cosmo_spark.streaming.sketches import stream_hll_registers_windowed

    base = _hll_window_log_dir(sf_dir)
    log = os.path.join(base, "log")
    marker = os.path.join(base, "_BUILT")
    if os.path.exists(marker):
        return log
    tune_session(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    prepared = _normalize_ts(stream).filter(
        F.col("event_type").isNotNull()
    ).select(
        "event_type", "ts", F.col("user_id").cast("string").alias("user_s")
    )
    q = stream_hll_registers_windowed(
        prepared, "event_type", "user_s", "ts",
        register_path=log, checkpoint_dir=os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    open(marker, "w").close()
    return log


def _q147_oracle() -> str:
    from cosmo_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        hll_lc_table,
        hll_rho_sql,
    )
    from cosmo_spark.queries.textops import _DUCK_POLY

    h = _DUCK_POLY.replace("{X}", "CAST(user_id AS VARCHAR)")
    rho = hll_rho_sql("w")
    raw = (
        f"CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M} * {HLL_M} / "
        f"(sum(CAST(1.0 AS DOUBLE) / (1 << rho)) + ({HLL_M} - count(*)))"
    )
    lc = "[" + ", ".join(
        f"CAST({x!r} AS DOUBLE)" for x in hll_lc_table()
    ) + "]"
    est = (
        f"CASE WHEN v0 > 0 AND raw < {2.5 * HLL_M!r} "
        f"THEN {lc}[v0] ELSE raw END"
    )
    return f"""
WITH hashed AS (
  SELECT event_type, {h} AS h FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL AND ts >= TIMESTAMP '{_Q146_SINCE}'
), rows_ AS (
  SELECT event_type, h % {HLL_M} AS bucket, h // {HLL_M} AS w FROM hashed
), regs AS (
  SELECT event_type, bucket, max({rho}) AS rho
  FROM rows_ GROUP BY event_type, bucket
)
SELECT event_type, round(est, 3) AS hll_est FROM (
  SELECT event_type, {est} AS est FROM (
    SELECT event_type, {raw} AS raw, {HLL_M} - count(*) AS v0
    FROM regs GROUP BY event_type
  )
)
"""


@register("q147_hll_horizon", operators=("A12", "ST4", "ST5"),
          oracle=_q147_oracle())
def q147_hll_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'distinct active users per event type since Jan 15' answered from
    the WINDOWED HLL register log — the distinct-count twin of q146
    (round-9 #5 asked for both): the maintainer accumulates
    per-(event_type, day) registers; the horizon read max-merges exactly
    the in-horizon windows' registers and estimates.  The oracle builds
    the same registers from the in-horizon RAW rows (the q107 bit-exact
    discipline: arithmetic poly-hash, integer rho, dyadic-rational
    harmonic sum, shared linear-counting table), so the windowed
    merge-by-max provably equals sketching the horizon's rows directly.

    Scale shape: state is ≤ 256 registers × days × types; the read
    shuffles only registers — a 30-day distinct-user dashboard costs a
    256-byte-per-cell scan no matter how many events arrived."""
    from cosmo_spark.streaming.sketches import hll_distinct_estimates_windowed

    tune_session(spark)
    log = ensure_hll_window_log(spark, sf_dir)
    import datetime as _dt

    since = _dt.datetime.strptime(_Q146_SINCE, "%Y-%m-%d %H:%M:%S")
    est = hll_distinct_estimates_windowed(spark, log, since=since)
    return est.select(
        F.col("key").alias("event_type"),
        F.round("est", 3).alias("hll_est"),
    )


# --------------------------------------------------------------------------- #
# q151 — right-to-be-forgotten purge over the versioned store, with CDC audit  #
# --------------------------------------------------------------------------- #

#: deterministic deletion-request set: users whose id is divisible by 17
#: (9 of 150 users at sf0.01 — request-sized, like a real GDPR queue)
_Q151_TOMB_MOD = 17


def _purge_demo_dir(sf_dir: str) -> str:
    return _window_log_dir(sf_dir, "purge_demo")


def ensure_purged_events(spark: SparkSession, sf_dir: str) -> str:
    """Build the purge demonstration table once per corpus identity:
    publish v1 = the events table (bounded projection), then
    ``purge_keys`` the tombstoned users -> v2.  Marker-gated like the
    window-log builders; bench charges the build to setup and q151
    measures the steady-state audit READ."""
    import os

    from cosmo_spark.sources.versioned import purge_keys, write_snapshot

    base = _purge_demo_dir(sf_dir)
    table = os.path.join(base, "events_versioned")
    marker = os.path.join(base, "_BUILT")
    if os.path.exists(marker):
        return table
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    write_snapshot(ev, table)
    tomb = ev.filter(F.col("user_id") % _Q151_TOMB_MOD == 0)
    purge_keys(spark, table, "user_id", tomb)
    open(marker, "w").close()
    return table


@register(
    "q151_gdpr_purge_audit",
    operators=("ST3", "J5", "A11"),
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_purged,
       CAST(0 AS BIGINT) AS n_remaining
FROM events
WHERE user_id % {_Q151_TOMB_MOD} = 0
GROUP BY user_id
""",
)
def q151_gdpr_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user deletion audit of a right-to-be-forgotten purge, computed
    FROM THE VERSIONED STORE (sources/versioned.purge_keys on an
    unpartitioned table, so v2 is a whole-table rewrite): the CDC diff
    between the pre-purge and post-purge snapshots
    (operators/merge.snapshot_diff) yields exactly the deleted keys'
    rows, and a left anti-check against the CURRENT version proves no
    tombstoned row survived — the oracle pins n_remaining to the
    constant 0, so a buggy purge (any surviving row) is a hash mismatch,
    not a silent pass.  Time travel keeps v1 readable until vacuum makes
    the deletion physical (tests/test_versioned.py pins the
    vacuum-erases-bytes property).

    Scale shape: the audit reads two manifest-pinned parquet versions and
    diffs on the key (bucketed at rest at 100 TB -> zipped per-bucket
    join); the per-user rollup partial-combines.  The purge itself (in
    setup) is one anti-join + rewrite under the table lock — the
    unavoidable physical-deletion cost on immutable storage.
    """
    from cosmo_spark.operators.merge import snapshot_diff
    from cosmo_spark.sources.versioned import (
        read_current,
        read_snapshot,
        snapshot_versions,
    )

    tune_session(spark)
    table = ensure_purged_events(spark, sf_dir)
    versions = snapshot_versions(table)
    pre, post = versions[-2], versions[-1]
    old = read_snapshot(spark, table, pre)
    new = read_snapshot(spark, table, post)
    # event_id is the row key; the diff's delete rows ARE the purged rows
    deleted = snapshot_diff(old, new, "event_id").filter(
        F.col("change_type") == "delete"
    )
    # re-attach user ids from the pre-purge version (the diff carries keys
    # only — the wide row never rides the shuffle twice)
    purged = deleted.join(
        old.select("event_id", "user_id"), "event_id"
    )
    remaining = (
        read_current(spark, table)
        .filter(F.col("user_id") % _Q151_TOMB_MOD == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__rem"))
    )
    return (
        purged.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purged"))
        .join(remaining, "user_id", "left")
        .select(
            "user_id", "n_purged",
            F.coalesce("__rem", F.lit(0)).cast("long").alias("n_remaining"),
        )
    )


# --------------------------------------------------------------------------- #
# q152 — CMS heavy-hitter horizon read over the windowed counter log           #
# --------------------------------------------------------------------------- #

def _cms_window_log_dir(sf_dir: str) -> str:
    return _window_log_dir(sf_dir, "cms")


def ensure_cms_window_log(spark: SparkSession, sf_dir: str) -> str:
    """Build the per-(day) Count-Min counter log once via the real
    streaming maintainer (stream_cms_counters_windowed) over the events
    stream (event_type as the counted token); see ensure_hdr_window_log
    for the contract."""
    import os

    from cosmo_spark.sources.tables import _normalize_ts
    from cosmo_spark.streaming.sketches import stream_cms_counters_windowed

    base = _cms_window_log_dir(sf_dir)
    log = os.path.join(base, "log")
    marker = os.path.join(base, "_BUILT")
    if os.path.exists(marker):
        return log
    tune_session(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    prepared = _normalize_ts(stream).filter(
        F.col("event_type").isNotNull()
    ).select("event_type", "ts")
    q = stream_cms_counters_windowed(
        prepared, "event_type", "ts",
        counter_path=log, checkpoint_dir=os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    open(marker, "w").close()
    return log


def _q152_oracle() -> str:
    from cosmo_spark.operators.sketches import CMS_P, CMS_ROWS, CMS_W
    from cosmo_spark.queries.textops import _DUCK_POLY

    toks = (
        "list_filter(string_split_regex(lower(event_type), '[^a-z0-9]+'), "
        "t -> t <> '')"
    )
    th = _DUCK_POLY.replace("{X}", "tok")
    hashed = " UNION ALL ".join(
        f"SELECT {i} AS r, ((th * {a} + {b}) % {CMS_P}) % {CMS_W} AS bucket "
        f"FROM tokh"
        for i, (a, b) in enumerate(CMS_ROWS)
    )
    probes = " UNION ALL ".join(
        f"SELECT tok, n_exact, {i} AS r, "
        f"((th * {a} + {b}) % {CMS_P}) % {CMS_W} AS bucket FROM exacth"
        for i, (a, b) in enumerate(CMS_ROWS)
    )
    return f"""
WITH horizon AS (
  SELECT {toks} AS toks FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
    AND ts >= TIMESTAMP '{_Q146_SINCE}'
), tok AS (SELECT unnest(toks) AS tok FROM horizon),
tokh AS (SELECT tok, {th} AS th FROM tok),
hashed AS ({hashed}),
counters AS (
  SELECT r, bucket, count(*) AS cnt FROM hashed GROUP BY r, bucket
), exact AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n_exact FROM tokh GROUP BY tok
), exacth AS (SELECT tok, n_exact, {th} AS th FROM exact),
probes AS ({probes})
SELECT p.tok AS token, p.n_exact,
       min(COALESCE(c.cnt, 0)) AS cms_est
FROM probes p LEFT JOIN counters c ON c.r = p.r AND c.bucket = p.bucket
GROUP BY p.tok, p.n_exact
"""


@register("q152_cms_horizon", operators=("A11", "ST4", "ST5"),
          oracle=_q152_oracle)
def q152_cms_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'event frequencies since Jan 15' answered from the WINDOWED
    Count-Min counter log — the heavy-hitter completion of the horizon
    family (q146 quantiles, q147 distincts, this counts): the maintainer
    accumulates per-day CMS counters; the horizon read SUMS exactly the
    in-horizon windows' counters (CMS's additive merge algebra) and
    probes them for every event-type token seen in the horizon.  The
    oracle rebuilds the same counters from the in-horizon RAW rows
    (q108's bit-exact arithmetic-hash discipline), so the windowed
    merge-by-sum provably equals sketching the horizon directly;
    n_exact rides along to show the overestimate bound.

    Scale shape: state is 4 rows x 1024 counters per day — a 30-day
    heavy-hitter dashboard costs a 16 KB-per-day scan no matter how many
    events arrived; the probe side is an exploded handful of rows
    broadcast against the merged counters."""
    import datetime as _dt

    from cosmo_spark.functions.text import poly_hash, tokenize
    from cosmo_spark.operators.sketches import cms_probe_rows
    from cosmo_spark.streaming.sketches import read_cms_counters_windowed

    tune_session(spark)
    log = ensure_cms_window_log(spark, sf_dir)
    since = _dt.datetime.strptime(_Q146_SINCE, "%Y-%m-%d %H:%M:%S")
    counters = read_cms_counters_windowed(spark, log, since=since)
    ev = _t(spark, sf_dir, "events")
    horizon = ev.filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
        & (F.col("ts") >= F.lit(since))
    ).select(F.explode(tokenize(F.col("event_type"))).alias("tok"))
    exact = horizon.groupBy("tok").agg(F.count(F.lit(1)).alias("n_exact"))
    exacth = exact.select("tok", "n_exact", poly_hash(F.col("tok")).alias("th"))
    probes = cms_probe_rows(exacth, ["tok", "n_exact"])
    # broadcast the BUILD side (<= 4 x 1024 x days rows merged to 4 x 1024):
    # the left-outer's preserved side cannot broadcast (q108 discipline)
    return (
        probes.join(F.broadcast(counters), ["r", "bucket"], "left")
        .groupBy(F.col("tok").alias("token"), "n_exact")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


# --------------------------------------------------------------------------- #
# q154 — KMV horizon set algebra over the windowed value log                   #
# --------------------------------------------------------------------------- #

def _kmv_window_log_dir(sf_dir: str) -> str:
    # "kmv_v": the maintainer hashes each value whole
    return _window_log_dir(sf_dir, "kmv_v")


def ensure_kmv_window_log(spark: SparkSession, sf_dir: str) -> str:
    """Build the per-(event_type, day) KMV value log once via the real
    streaming maintainer (stream_kmv_values_windowed) over the events
    stream (user_id as the counted value); see ensure_hdr_window_log for
    the contract."""
    import os

    from cosmo_spark.sources.tables import _normalize_ts
    from cosmo_spark.streaming.sketches import stream_kmv_values_windowed

    base = _kmv_window_log_dir(sf_dir)
    log = os.path.join(base, "log")
    marker = os.path.join(base, "_BUILT")
    if os.path.exists(marker):
        return log
    tune_session(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    prepared = _normalize_ts(stream).filter(
        F.col("event_type").isNotNull()
    ).select(
        "event_type", "ts", F.col("user_id").cast("string").alias("user_s")
    )
    q = stream_kmv_values_windowed(
        prepared, "event_type", "user_s", "ts",
        value_path=log, checkpoint_dir=os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    open(marker, "w").close()
    return log


def _q154_oracle() -> str:
    from cosmo_spark.operators.sketches import KMV_K, KMV_P
    from cosmo_spark.queries.textops import _DUCK_POLY

    numer = (KMV_K - 1) * KMV_P
    h = _DUCK_POLY.replace("{X}", "CAST(user_id AS VARCHAR)")
    est = (
        f"CASE WHEN {{n}} < {KMV_K} THEN CAST({{n}} AS DOUBLE) "
        f"ELSE CAST({numer} AS DOUBLE) / CAST({{hk}} AS DOUBLE) END"
    )
    return f"""
WITH hs AS (
  SELECT DISTINCT event_type AS key, {h} AS h FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL AND ts >= TIMESTAMP '{_Q146_SINCE}'
),
ranked AS (
  SELECT key, h, row_number() OVER (PARTITION BY key ORDER BY h) AS r
  FROM hs
), sk AS (SELECT key, h FROM ranked WHERE r <= {KMV_K}),
stats AS (SELECT key, count(*) AS n_sk, max(h) AS hk FROM sk GROUP BY key),
nex AS (SELECT key, count(*) AS n_exact FROM hs GROUP BY key),
per_key AS (
  SELECT s.key AS scope, n.n_exact, {est.format(n="s.n_sk", hk="s.hk")} AS est
  FROM stats s JOIN nex n USING (key)
),
pairs AS (
  SELECT a.key AS sa, b.key AS sb, a.n_exact AS na, b.n_exact AS nb
  FROM nex a JOIN nex b ON a.key < b.key
),
merged AS (
  SELECT DISTINCT sa, sb, h FROM (
    SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s ON s.key = p.sa
    UNION ALL
    SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s ON s.key = p.sb
  )
),
mrank AS (
  SELECT sa, sb, h, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS r
  FROM merged
), msk AS (SELECT sa, sb, h FROM mrank WHERE r <= {KMV_K}),
ustats AS (
  SELECT sa, sb, count(*) AS n_um, max(h) AS huk FROM msk GROUP BY sa, sb
),
both_ AS (
  SELECT m.sa, m.sb, count(*) AS c
  FROM msk m
  JOIN sk x ON x.key = m.sa AND x.h = m.h
  JOIN sk y ON y.key = m.sb AND y.h = m.h
  GROUP BY m.sa, m.sb
),
iex AS (
  SELECT a.key AS sa, b.key AS sb, count(*) AS n_int
  FROM hs a JOIN hs b ON a.h = b.h AND a.key < b.key
  GROUP BY 1, 2
),
pair_est AS (
  SELECT p.sa, p.sb,
         p.na + p.nb - coalesce(i.n_int, 0) AS n_union,
         coalesce(i.n_int, 0) AS n_int,
         u.n_um, coalesce(b.c, 0) AS c,
         {est.format(n="u.n_um", hk="u.huk")} AS uest
  FROM pairs p
  JOIN ustats u ON u.sa = p.sa AND u.sb = p.sb
  LEFT JOIN both_ b ON b.sa = p.sa AND b.sb = p.sb
  LEFT JOIN iex i ON i.sa = p.sa AND i.sb = p.sb
),
unioned AS (
  SELECT scope, n_exact, est FROM per_key
  UNION ALL
  SELECT sa || '|' || sb || '|union', n_union, uest FROM pair_est
  UNION ALL
  SELECT sa || '|' || sb || '|intersect', n_int,
         CASE WHEN n_um < {KMV_K} THEN CAST(c AS DOUBLE)
              ELSE (CAST(c AS DOUBLE) / {KMV_K}) * uest END
  FROM pair_est
)
SELECT scope, n_exact, round(est, 3) AS kmv_est,
       CASE WHEN n_exact > 0
            THEN round(100.0 * (est - n_exact) / n_exact, 3) END AS err_pct
FROM unioned
"""


@register("q154_kmv_horizon", operators=("A12", "A14", "ST4", "ST5"),
          oracle=_q154_oracle)
def q154_kmv_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ALGEBRA over the horizon — the read only KMV can serve, closing
    the windowed family across all four register algebras (q146 HDR
    quantiles, q147 HLL distincts, q152 CMS counts, this one): 'of the
    users active since Jan 15, how many did event types A and B SHARE?'
    The maintainer keeps per-(event_type, day) k-smallest user-hash
    values; the horizon read union-distincts the in-horizon windows and
    re-selects (k-smallest of a union of per-window k-smallest IS the
    k-smallest of the union — the KMV merge identity), then runs the
    q110 theta algebra: per-key distinct estimates, pairwise union
    (kth smallest of the merged sketch), and pairwise intersection
    (inclusion fraction scaled by the union estimate), with exact
    counts alongside.  The oracle rebuilds the same sketches from the
    in-horizon RAW rows, so the windowed merge provably equals
    sketching the horizon directly.

    Scale shape: state is <= k values per (key, day) — 512 bytes per
    cell; every estimate and every pair estimate runs over 64-row
    sketches, so a cross-segment overlap dashboard costs sketch-sized
    joins no matter how many events arrived.  The only raw-row work is
    the exact-count columns the demonstration carries.
    """
    import datetime as _dt

    from pyspark.sql.window import Window as _W

    from cosmo_spark.functions.text import poly_hash
    from cosmo_spark.operators.sketches import KMV_K, KMV_P
    from cosmo_spark.streaming.sketches import read_kmv_values_windowed

    tune_session(spark)
    log = ensure_kmv_window_log(spark, sf_dir)
    since = _dt.datetime.strptime(_Q146_SINCE, "%Y-%m-%d %H:%M:%S")
    # the merged sketch feeds FIVE branches (stats, merged x2, both x2):
    # localCheckpoint computes the log read + rank selection once — the
    # frame is keys x <=64 rows (the q148 reused-small-frame discipline)
    sk = read_kmv_values_windowed(spark, log, since=since).localCheckpoint()
    ev = _t(spark, sf_dir, "events")
    hs = (
        ev.filter(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
            & F.col("ts").isNotNull() & (F.col("ts") >= F.lit(since))
        )
        .select(
            F.col("event_type").alias("key"),
            poly_hash(F.col("user_id").cast("string")).alias("h"),
        )
        .distinct()
    )
    numer = F.lit((KMV_K - 1) * KMV_P).cast("double")

    def est(n_col, hk_col):
        return F.when(
            n_col < KMV_K, n_col.cast("double")
        ).otherwise(numer / hk_col.cast("double"))

    stats = sk.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("hk")
    )
    nex = hs.groupBy("key").agg(F.count(F.lit(1)).alias("n_exact"))
    per_key = stats.join(nex, "key").select(
        F.col("key").alias("scope"), "n_exact",
        est(F.col("n_sk"), F.col("hk")).alias("est"),
    )
    a, b = nex.alias("a"), nex.alias("b")
    pairs = a.join(b, F.col("a.key") < F.col("b.key")).select(
        F.col("a.key").alias("sa"), F.col("b.key").alias("sb"),
        F.col("a.n_exact").alias("na"), F.col("b.n_exact").alias("nb"),
    )
    merged = (
        pairs.join(sk, sk["key"] == pairs["sa"]).select("sa", "sb", "h")
        .unionByName(
            pairs.join(sk, sk["key"] == pairs["sb"]).select("sa", "sb", "h")
        )
        .distinct()
    )
    w_pair = _W.partitionBy("sa", "sb").orderBy("h")
    msk = (
        merged.withColumn("r", F.row_number().over(w_pair))
        .filter(F.col("r") <= KMV_K)
        .select("sa", "sb", "h")
    )
    ustats = msk.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).alias("n_um"), F.max("h").alias("huk")
    )
    skx, sky = sk.alias("x"), sk.alias("y")
    both = (
        msk.join(skx, (F.col("x.key") == F.col("sa"))
                 & (F.col("x.h") == msk["h"]))
        .join(sky, (F.col("y.key") == F.col("sb"))
              & (F.col("y.h") == msk["h"]))
        .groupBy("sa", "sb").agg(F.count(F.lit(1)).alias("c"))
    )
    ha, hb = hs.alias("ia"), hs.alias("ib")
    iex = (
        ha.join(hb, (F.col("ia.h") == F.col("ib.h"))
                & (F.col("ia.key") < F.col("ib.key")))
        .groupBy(F.col("ia.key").alias("sa"), F.col("ib.key").alias("sb"))
        .agg(F.count(F.lit(1)).alias("n_int"))
    )
    pair_est = (
        pairs.join(ustats, ["sa", "sb"])
        .join(both, ["sa", "sb"], "left")
        .join(iex, ["sa", "sb"], "left")
        .select(
            "sa", "sb",
            (F.col("na") + F.col("nb")
             - F.coalesce(F.col("n_int"), F.lit(0))).alias("n_union"),
            F.coalesce(F.col("n_int"), F.lit(0)).alias("n_int0"),
            "n_um",
            F.coalesce(F.col("c"), F.lit(0)).alias("c0"),
            est(F.col("n_um"), F.col("huk")).alias("uest"),
        )
    )
    union_rows = pair_est.select(
        F.concat_ws("|", "sa", "sb", F.lit("union")).alias("scope"),
        F.col("n_union").alias("n_exact"), F.col("uest").alias("est"),
    )
    int_rows = pair_est.select(
        F.concat_ws("|", "sa", "sb", F.lit("intersect")).alias("scope"),
        F.col("n_int0").alias("n_exact"),
        F.when(F.col("n_um") < KMV_K, F.col("c0").cast("double"))
        .otherwise((F.col("c0").cast("double") / KMV_K) * F.col("uest"))
        .alias("est"),
    )
    out = per_key.unionByName(union_rows).unionByName(int_rows)
    return out.select(
        "scope", "n_exact",
        F.round("est", 3).alias("kmv_est"),
        F.when(
            F.col("n_exact") > 0,
            F.round(100.0 * (F.col("est") - F.col("n_exact"))
                    / F.col("n_exact"), 3),
        ).alias("err_pct"),
    )


# --------------------------------------------------------------------------- #
# q157 — partitioned store lifecycle: merge, time travel, CDC, GDPR purge      #
# --------------------------------------------------------------------------- #

#: deterministic update slice (events whose id =~ 1 mod 23 get a version-2
#: row) and the q151 tombstone rule (users divisible by 17)
_Q157_UPD_MOD = 23


def _purge_parts_dir(sf_dir: str) -> str:
    return _window_log_dir(sf_dir, "purge_parts")


def ensure_partitioned_purge_demo(spark: SparkSession, sf_dir: str) -> str:
    """Build the partitioned-store lifecycle demo once per corpus
    identity: v1 = the events table merged in (partitioned by
    event_type), v2 = a version-guarded UPDATE of the mod-23 slice
    (only its partitions' generations re-point), v3 = a GDPR purge of
    the mod-17 users (q151's tombstone rule).  Marker-gated like the
    window-log builders; bench charges the build to setup and q157
    measures the steady-state audit READ over three manifest-pinned
    versions."""
    import os

    from cosmo_spark.sources.versioned import merge_into_path, purge_keys

    base = _purge_parts_dir(sf_dir)
    table = os.path.join(base, "events_parts")
    marker = os.path.join(base, "_BUILT")
    if os.path.exists(marker):
        return table
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    v1 = ev.withColumn("ver", F.lit(1))
    published = merge_into_path(
        spark, table, v1, "event_id", "ver", partition_col="event_type"
    )
    if published > 0:   # an EMPTY corpus publishes nothing — the query
        upd = (         # degrades to an empty audit (oracle agrees)
            v1.filter(F.col("event_id") % _Q157_UPD_MOD == 1)
            .withColumn("ver", F.lit(2))
            .withColumn("value", F.col("value") + F.lit(1000.0))
        )
        merge_into_path(
            spark, table, upd, "event_id", "ver", partition_col="event_type"
        )
        tomb = ev.filter(
            F.col("user_id") % _Q151_TOMB_MOD == 0
        ).select("user_id")
        purge_keys(spark, table, "user_id", tomb)
    open(marker, "w").close()
    return table


@register(
    "q157_partitioned_purge_audit",
    operators=("ST3", "S16", "J5", "A11"),
    oracle=f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_before,
       CAST(sum(CASE WHEN event_id % {_Q157_UPD_MOD} = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
       CAST(sum(CASE WHEN user_id % {_Q151_TOMB_MOD} = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
       CAST(0 AS BIGINT) AS n_remaining
FROM events
GROUP BY event_type
""",
)
def q157_partitioned_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lifecycle audit of a PARTITIONED table in the
    snapshot store (sources/versioned, ``partition_col="event_type"``): the
    merge that loaded the table, the version-guarded update and the
    right-to-be-forgotten purge are all read back FROM THE MANIFEST'S
    VERSION HISTORY — n_before from time-traveling to v1, n_updated as
    the v1→v2 CDC update set, n_purged as the v2→v3 CDC delete set, and
    n_remaining anti-checked against the current version (the oracle
    pins it to the constant 0, so any surviving tombstoned row is a
    hash mismatch).  Untouched partitions share generation directories
    across all three versions — the partitioned layout's whole point;
    the partitioned-layout unit suite pins the sharing byte-for-byte.

    Scale shape: three manifest-pinned multi-path parquet scans + CDC
    diffs keyed on event_id (bucketed at rest at 100 TB → zipped
    per-bucket joins); the per-partition rollup partial-combines.  The
    merge/purge themselves (in setup) each rewrote ONLY the affected
    partitions' generations.
    """
    from cosmo_spark.operators.merge import snapshot_diff
    from cosmo_spark.sources.versioned import read_snapshot, snapshot_versions

    tune_session(spark)
    table = ensure_partitioned_purge_demo(spark, sf_dir)
    versions = snapshot_versions(table)
    if len(versions) < 3:
        # an EMPTY corpus publishes no versions (the builder degrades);
        # the oracle's GROUP BY over zero rows is empty too.  Fewer than
        # 3 versions on a NON-empty corpus cannot happen on the driver
        # corpora (both the mod-23 update slice and the mod-17 tombstone
        # set are non-empty at every sf, in every sweep).
        return spark.createDataFrame(
            [], "event_type STRING, n_before LONG, n_updated LONG, "
                "n_purged LONG, n_remaining LONG"
        )
    v1, v2, v3 = versions[-3:]
    old = read_snapshot(spark, table, v1)
    mid = read_snapshot(spark, table, v2)
    cur = read_snapshot(spark, table, v3)
    before = old.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_before")
    )
    updated = (
        snapshot_diff(old, mid, "event_id")
        .filter(F.col("change_type") == "update")
        .join(mid.select("event_id", "event_type"), "event_id")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("__upd"))
    )
    purged = (
        snapshot_diff(mid, cur, "event_id")
        .filter(F.col("change_type") == "delete")
        .join(mid.select("event_id", "event_type"), "event_id")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("__purged"))
    )
    remaining = (
        cur.filter(F.col("user_id") % _Q151_TOMB_MOD == 0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("__rem"))
    )
    return (
        before.join(updated, "event_type", "left")
        .join(purged, "event_type", "left")
        .join(remaining, "event_type", "left")
        .select(
            "event_type", "n_before",
            F.coalesce("__upd", F.lit(0)).cast("long").alias("n_updated"),
            F.coalesce("__purged", F.lit(0)).cast("long").alias("n_purged"),
            F.coalesce("__rem", F.lit(0)).cast("long").alias("n_remaining"),
        )
    )


# --------------------------------------------------------------------------- #
# q161 — quarantine REPLAY: rebuild an early-evicted window (round-11)         #
# --------------------------------------------------------------------------- #

#: the eviction decree (same day-aligned cutoff as q146/q147) and the
#: pre-horizon day q161 rebuilds purely from quarantined register partials
_Q161_HORIZON = "2024-01-15 00:00:00"
_Q161_WIN = "2024-01-10 00:00:00"


def _hllq_window_log_dir(sf_dir: str) -> str:
    return _window_log_dir(sf_dir, "hllq")


def ensure_hll_quarantine_log(spark: SparkSession, sf_dir: str) -> str:
    """Build, once, a windowed HLL register log whose eviction horizon
    PREDATES part of the data — the early-decree scenario the late-data
    policy quarantines for: (1) the maintainer ingests only the
    post-horizon events, (2) ``expire_windows`` persists the horizon,
    (3) a second maintainer run delivers the PRE-horizon events, every
    one of whose register partials diverts to ``_late/`` (split across
    the maintainer's micro-batching).  The live log never holds a
    pre-horizon window; q161's ``rebuild_window`` recovers one entirely
    from quarantine."""
    import os

    from cosmo_spark.sources.tables import _normalize_ts
    from cosmo_spark.streaming.sketches import (
        expire_windows,
        stream_hll_registers_windowed,
    )

    base = _hllq_window_log_dir(sf_dir)
    log = os.path.join(base, "log")
    marker = os.path.join(base, "_BUILT")
    if os.path.exists(marker):
        return log
    tune_session(spark)
    events = _normalize_ts(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    ).filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
    stage = os.path.join(base, "src")

    def run_maintainer():
        stream = (
            spark.readStream.schema(
                "event_type STRING, ts TIMESTAMP, user_s STRING"
            )
            .option("recursiveFileLookup", "true")
            .parquet(stage)
        )
        stream_hll_registers_windowed(
            stream, "event_type", "user_s", "ts",
            register_path=log, checkpoint_dir=os.path.join(base, "ckpt"),
        ).awaitTermination()

    cols = ["event_type", "ts", F.col("user_id").cast("string").alias("user_s")]
    events.filter(F.col("ts") >= F.lit(_Q161_HORIZON)).select(*cols) \
        .write.mode("overwrite").parquet(os.path.join(stage, "b1"))
    run_maintainer()
    expire_windows(spark, log, "hll", older_than=_Q161_HORIZON)
    events.filter(F.col("ts") < F.lit(_Q161_HORIZON)).select(*cols) \
        .write.mode("overwrite").parquet(os.path.join(stage, "b2"))
    run_maintainer()
    open(marker, "w").close()
    return log


def _hll_replay_oracle(ts_where: str) -> str:
    """Raw-event HLL replay oracle over an arbitrary event-time slice —
    shared by q161 (one early-evicted window) and q163 (the whole
    pre-horizon region of a rebuilt log)."""
    from cosmo_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_M,
        hll_lc_table,
        hll_rho_sql,
    )
    from cosmo_spark.queries.textops import _DUCK_POLY

    h = _DUCK_POLY.replace("{X}", "CAST(user_id AS VARCHAR)")
    rho = hll_rho_sql("w")
    raw = (
        f"CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M} * {HLL_M} / "
        f"(sum(CAST(1.0 AS DOUBLE) / (1 << rho)) + ({HLL_M} - count(*)))"
    )
    lc = "[" + ", ".join(
        f"CAST({x!r} AS DOUBLE)" for x in hll_lc_table()
    ) + "]"
    est = (
        f"CASE WHEN v0 > 0 AND raw < {2.5 * HLL_M!r} "
        f"THEN {lc}[v0] ELSE raw END"
    )
    return f"""
WITH hashed AS (
  SELECT event_type, {h} AS h FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND {ts_where}
), rows_ AS (
  SELECT event_type, h % {HLL_M} AS bucket, h // {HLL_M} AS w FROM hashed
), regs AS (
  SELECT event_type, bucket, max({rho}) AS rho
  FROM rows_ GROUP BY event_type, bucket
)
SELECT event_type, round(est, 3) AS hll_est FROM (
  SELECT event_type, {est} AS est FROM (
    SELECT event_type, {raw} AS raw, {HLL_M} - count(*) AS v0
    FROM regs GROUP BY event_type
  )
)
"""


def _q161_oracle() -> str:
    return _hll_replay_oracle(
        f"ts >= TIMESTAMP '{_Q161_WIN}' "
        f"AND ts < TIMESTAMP '{_Q161_WIN}' + INTERVAL 1 DAY"
    )


@register("q161_hll_rebuild_window", operators=("A12", "ST4", "ST5"),
          oracle=_q161_oracle())
def q161_hll_rebuild_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recover 'distinct users on Jan 10' from a log whose eviction
    horizon (Jan 15) was decreed BEFORE Jan 10's events arrived — the
    quarantine-replay operator as a parity row (the round-10 verdict's
    recovery half, q147's twin for the evicted region).

    The at-rest artifact holds Jan 10's register mass ONLY in the
    ``_late/`` quarantine (the live log is clean of pre-horizon windows
    by the policy's own gate); ``rebuild_window`` merges quarantine +
    live under HLL's max algebra for exactly that window, and the oracle
    builds the same registers from the day's RAW rows — so
    quarantine-held partials provably reconstruct the full window, and a
    rebuild that re-admitted into (or leaked from) the live log would
    hash-mismatch.  The horizon file stays monotone throughout: replay
    is a read, never a mutation.

    Scale shape: the rebuild scans registers (≤ 256/key/day), never
    events; quarantine is day-bucketed parquet like the live log."""
    import datetime as _dt

    from cosmo_spark.operators.sketches import hll_estimate
    from cosmo_spark.streaming.sketches import rebuild_window

    tune_session(spark)
    log = ensure_hll_quarantine_log(spark, sf_dir)
    win = _dt.datetime.strptime(_Q161_WIN, "%Y-%m-%d %H:%M:%S")
    regs = rebuild_window(spark, log, "hll", win)
    return hll_estimate(regs, ["key"]).select(
        F.col("key").alias("event_type"),
        F.round("est", 3).alias("hll_est"),
    )


# --------------------------------------------------------------------------- #
# q163 — rebuild-to-NEW-log recovery: the whole pre-horizon region (round-12)  #
# --------------------------------------------------------------------------- #

#: the widened horizon the rebuilt log is born with (predates every event)
_Q163_NEW_HORIZON = "2024-01-01 00:00:00"


def _hllq_rebuilt_log_dir(sf_dir: str) -> str:
    return _window_log_dir(sf_dir, "hllq_rebuilt")


def ensure_hll_rebuilt_log(spark: SparkSession, sf_dir: str) -> str:
    """Materialize, once, the brand-new windowed log ``rebuild_log``
    derives from q161's early-decree artifact (live = post-Jan-15,
    quarantine = everything before): the new log carries the ENTIRE
    pre-horizon region live, with its own horizon persisted at the
    widened value.  The source log is untouched — q161 keeps reading it
    unchanged in the same catalog pass."""
    import os

    from cosmo_spark.streaming.sketches import rebuild_log

    src = ensure_hll_quarantine_log(spark, sf_dir)
    dest = os.path.join(_hllq_rebuilt_log_dir(sf_dir), "log")
    if not os.path.isdir(dest):
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        rebuild_log(spark, src, dest, "hll", older_than=_Q163_NEW_HORIZON)
    return dest


@register("q163_hll_rebuild_log", operators=("A12", "ST4", "ST5"),
          oracle=_hll_replay_oracle(f"ts < TIMESTAMP '{_Q161_HORIZON}'"))
def q163_hll_rebuild_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'distinct users per event type BEFORE Jan 15' answered from the
    REBUILT log — the round-12 recovery operator as a parity row.  In
    the source log that whole region exists only as ``_late/``
    quarantine partials (the horizon was decreed before its events
    arrived); ``rebuild_log`` folds live + quarantine into a fresh log
    whose windowed read over the pre-horizon days must hash-match the
    raw-event replay — a rebuild that dropped a quarantined partial,
    double-counted a retried batch, or leaked post-horizon mass into the
    read would mismatch.  The source log and its Jan-15 horizon stay
    byte-identical (q161 reads them in the same pass), and the new log's
    own horizon starts at the widened Jan-1 value.

    Scale shape: the rebuild and the read scan registers (≤ 256/key/day),
    never events; publish is one atomic directory rename."""
    import datetime as _dt

    from cosmo_spark.operators.sketches import hll_estimate
    from cosmo_spark.streaming.sketches import read_hll_registers_windowed

    tune_session(spark)
    log = ensure_hll_rebuilt_log(spark, sf_dir)
    until = _dt.datetime.strptime(_Q161_HORIZON, "%Y-%m-%d %H:%M:%S")
    regs = read_hll_registers_windowed(spark, log, until=until)
    return hll_estimate(regs, ["key"]).select(
        F.col("key").alias("event_type"),
        F.round("est", 3).alias("hll_est"),
    )
