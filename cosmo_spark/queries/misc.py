"""Catalog batch 2: remaining SURVEY §2 operator patterns.

P14 static-map lookup, P10 recency filter, O2 nearest-row lookup, J6
normalized fuzzy-key join, A13/A14 group-key enumeration, BPE-ish token
counting, and the IVF approximate-ANN scale path (rows-only check — its
centroid assignment is iterative/argmin-based, outside ANSI SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cosmo_spark.queries import register
from cosmo_spark.session import tune_session
from cosmo_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    return load_table(spark, sf_dir, name)


@register(
    "q28_static_map_lookup",
    operators=("P14", "J2"),
    oracle="""
WITH expected AS (
  SELECT * FROM (VALUES ('BUILDING', 1.5e5), ('AUTOMOBILE', 1.4e5),
                        ('MACHINERY', 1.3e5), ('HOUSEHOLD', 1.2e5),
                        ('FURNITURE', 1.1e5)) t(seg, expected_price)
)
SELECT c.c_mktsegment,
       round(avg(o.o_totalprice - e.expected_price), 4) AS mean_deviation,
       count(*) AS n
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN expected e ON c.c_mktsegment = e.seg
GROUP BY c.c_mktsegment
""",
)
def q28_static_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static constant-map lookup as a broadcast literal dimension
    (ref: expected aperture-position array,
    cosmo/monitors/aper_shift_monitors.py:77-110): the Python-side constant
    array becomes a VALUES dim; deviation = observed - expected."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    expected = spark.sql(
        "SELECT * FROM VALUES ('BUILDING', 1.5e5D), ('AUTOMOBILE', 1.4e5D), "
        "('MACHINERY', 1.3e5D), ('HOUSEHOLD', 1.2e5D), ('FURNITURE', 1.1e5D) "
        "AS t(seg, expected_price)"
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(expected), F.col("c_mktsegment") == F.col("seg"))
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.avg(F.col("o_totalprice") - F.col("expected_price")), 4)
             .alias("mean_deviation"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q29_last_n_days",
    operators=("P10", "A4"),
    oracle="""
WITH bound AS (SELECT max(ts) AS tmax FROM events)
SELECT e.event_type, count(*) AS n, round(avg(e.value), 6) AS avg_value
FROM events e CROSS JOIN bound b
WHERE e.ts > b.tmax - INTERVAL 7 DAY
GROUP BY e.event_type
""",
)
def q29_last_n_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency filter relative to the data's own maximum timestamp
    (ref: ``max(EXPSTART) - EXPSTART < 30`` last-30-days slice,
    cosmo/monitors/acq_monitors.py:94-99).

    The scalar max is a broadcast 1-row aggregate, not a window over the
    whole table — the fact scan stays parallel and the time predicate can
    prune partitions on a date-partitioned layout.
    """
    e = _t(spark, sf_dir, "events")
    bound = e.agg(F.max("ts").alias("tmax"))
    return (
        e.crossJoin(F.broadcast(bound))
        .filter(F.col("ts") > F.col("tmax") - F.expr("INTERVAL 7 DAY"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


@register(
    "q40_nearest_event",
    operators=("O2", "J8"),
    oracle="""
SELECT user_id, event_id,
       round(abs(epoch(ts) - epoch(TIMESTAMP '2024-01-15 12:00:00')), 3) AS dist_sec
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id
    ORDER BY abs(epoch(ts) - epoch(TIMESTAMP '2024-01-15 12:00:00')), event_id
  ) AS rn
  FROM events WHERE user_id < 20
) WHERE rn = 1
""",
)
def q40_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-row-to-target lookup (ref: find_closest_date argmin,
    cosmo/monitors/telemetry_monitors.py:172-176) as a per-group ``min_by``
    with a deterministic id tiebreak — partial aggregation resolves each
    group's argmin map-side (the latest_per_key discipline), so the
    exchange carries one candidate per (partition, user) instead of every
    event riding through a row_number window."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    target = F.unix_micros(F.lit("2024-01-15 12:00:00").cast("timestamp")) / 1e6
    dist = F.abs(F.unix_micros("ts") / 1e6 - target)
    order_key = F.struct(dist.alias("d"), F.col("event_id").alias("e"))
    winner = F.min_by(
        F.struct(F.col("event_id").alias("event_id"), dist.alias("dist")),
        order_key,
    )
    return (
        e.groupBy("user_id")
        .agg(winner.alias("__w"))
        .select(
            "user_id",
            F.col("__w.event_id").alias("event_id"),
            F.round("__w.dist", 3).alias("dist_sec"),
        )
    )


@register(
    "q41_fuzzy_key_join",
    operators=("J6",),
    oracle="""
WITH padded_dim AS (
  SELECT DISTINCT concat(p_brand, '   ') AS brand_key, p_brand AS brand_label
  FROM part
)
SELECT p.p_brand, count(*) AS n_parts,
       CAST(round(sum(p.p_retailprice * 100)) AS BIGINT) / (100.0 * count(*))
         AS avg_price
FROM part p
JOIN padded_dim d ON p.p_brand = rtrim(d.brand_key)
GROUP BY p.p_brand
""",
)
def q41_fuzzy_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padded-string-tolerant dimension join (ref: CRDS reference-row match
    tolerating right-padded / bytes keys via 3 equality variants,
    cosmo/filesystem.py:117-139).  Spark-first: normalize with ``rtrim`` at
    join time (cheaper still: at ingest) — one equi-join instead of an
    OR-of-equalities that would defeat hashing."""
    p = _t(spark, sf_dir, "part")
    padded = (
        p.select(
            F.concat(F.col("p_brand"), F.lit("   ")).alias("brand_key"),
            F.col("p_brand").alias("brand_label"),
        ).distinct()
    )
    return (
        p.join(F.broadcast(padded), p.p_brand == F.rtrim(padded.brand_key))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            # exact-cents mean: integer sum / count is order-insensitive,
            # so the cross-engine hash can't drift in the last ulp
            (
                F.round(F.sum(F.col("p_retailprice") * 100)).cast("long")
                / (100.0 * F.count(F.lit(1)))
            ).alias("avg_price"),
        )
    )


@register(
    "q42_group_key_enum",
    operators=("A13", "A14"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship,
       strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship,
       count(*) AS n
FROM lineitem
WHERE l_quantity > 0
GROUP BY l_returnflag, l_linestatus
""",
)
def q42_group_key_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct group-key enumeration with per-subgroup min/max bounds
    (ref: search-box shapes per (XC_RANGE, SEARCH_OFFSET),
    cosmo/monitors/osm_shift_monitors.py:643-668)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_quantity") > 0)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q43_bpe_tokens",
    operators=("TXT3", "TXT4"),
    oracle="""
SELECT lang,
       CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')))
            AS BIGINT) AS bpe_ish_tokens,
       CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS ws_tokens,
       count(*) AS n_docs
FROM documents
GROUP BY lang
""",
)
def q43_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    lexer (letter runs | digit runs | single punctuation) — the standard
    pre-tokenizer shape for corpus token accounting."""
    d = _t(spark, sf_dir, "documents")
    bpe = F.size(
        F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    )
    ws = F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
    return d.groupBy("lang").agg(
        F.sum(bpe).alias("bpe_ish_tokens"),
        F.sum(ws).alias("ws_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "q48_interval_join",
    operators=("J8", "P4"),
    oracle="""
SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id,
       round(epoch(p.ts) - epoch(e.ts), 3) AS gap_sec
FROM (SELECT * FROM events WHERE event_type = 'purchase' AND user_id < 100) p
JOIN (SELECT * FROM events WHERE event_type = 'error' AND user_id < 100) e
  ON p.user_id = e.user_id
 AND e.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
""",
)
def q48_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval join: errors within 10 minutes before each purchase.

    Formulated as a grid-bucketed equi-join: both sides bucket time into
    10-minute cells, probes join their own and previous cell, then the exact
    range predicate filters.  Per-pair work is bounded by cell occupancy —
    no quadratic per-user blowup, unlike a naive theta join.  (The reference
    has no interval joins; this is the range-join technique its as-of
    lookups would need at scale.)
    """
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    cell = 600.0  # seconds, == the interval bound
    sec = F.unix_micros("ts") / 1e6
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "user_id", F.col("event_id").alias("purchase_id"),
            sec.alias("p_sec"),
            # probe its own cell and the previous one — covers the full lag
            F.explode(F.array(
                F.floor(sec / cell).cast("long"),
                F.floor(sec / cell).cast("long") - 1,
            )).alias("cell"),
        )
    )
    err = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), sec.alias("e_sec"),
        F.floor(sec / cell).cast("long").alias("cell"),
    )
    return (
        p.join(err, ["user_id", "cell"])
        .filter(
            (F.col("e_sec") >= F.col("p_sec") - cell)
            & (F.col("e_sec") <= F.col("p_sec"))
        )
        .select(
            "user_id", "purchase_id", "error_id",
            F.round(F.col("p_sec") - F.col("e_sec"), 3).alias("gap_sec"),
        )
    )


@register(
    "q98_lag_join_batch",
    operators=("ST5", "J8"),
    oracle="""
SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id,
       round(epoch(p.ts) - epoch(e.ts), 3) AS lag_sec
FROM (SELECT * FROM events WHERE event_type = 'purchase' AND user_id < 100) p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'error' AND user_id < 100) e
  ON p.user_id = e.user_id
 AND e.ts BETWEEN p.ts - INTERVAL 5 MINUTE AND p.ts + INTERVAL 5 MINUTE
""",
)
def q98_lag_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream tolerated-lag join's BATCH TWIN
    (streaming/joins.stream_lag_join run on batch frames — identical
    code path minus the watermarks), oracle-gated against a DuckDB range
    join: purchases leftOuter-joined to same-user errors within ±5
    minutes, unmatched purchases surfacing with NULLs exactly as the
    streaming leftOuter emits them after watermark expiry.  This closes
    round-5's one oracle-less surface (ST5 strict analog was unit-only).
    """
    from cosmo_spark.streaming.joins import stream_lag_join

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    err = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    )
    out = stream_lag_join(
        p, err, "user_id", "p_ts", "e_ts",
        tolerance="5 minutes", join_type="leftOuter",
        right_cols=["error_id"],
    )
    lag = F.round(
        (F.unix_micros("p_ts") - F.unix_micros("e_ts_matched")) / 1e6, 3
    )
    return out.select("user_id", "purchase_id", "error_id", lag.alias("lag_sec"))


def _q100_oracle() -> str:
    d, iters = 0.85, 5
    parts = [
        "e0 AS (SELECT DISTINCT 2 * o_custkey AS src, "
        "2 * l_suppkey + 1 AS dst "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "edges AS (SELECT src, dst FROM e0 "
        "UNION ALL SELECT dst AS src, src AS dst FROM e0)",
        "deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        "r0 AS (SELECT node, 1.0 / nn.n AS rank FROM deg CROSS JOIN nn)",
    ]
    for i in range(iters):
        # float constants repr'd from the SAME Python doubles the Spark
        # side uses (1-0.85 is 0.15000000000000002, not 0.15); the state
        # rebuild is deg LEFT JOIN sums + coalesce, mirroring the operator
        # exactly (an inner join drops zero-in-degree nodes after round 1)
        parts.append(
            f"s{i + 1} AS (SELECT e.dst AS node, sum(r.rank / d2.deg) AS s "
            f"FROM edges e JOIN r{i} r ON r.node = e.src "
            f"JOIN deg d2 ON d2.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i + 1} AS (SELECT deg.node AS node, "
            f"{1.0 - d!r} / nn.n + {d!r} * coalesce(s{i + 1}.s, 0.0) AS rank "
            f"FROM deg LEFT JOIN s{i + 1} ON s{i + 1}.node = deg.node "
            f"CROSS JOIN nn)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, round(rank, 6) AS pagerank FROM r{iters}"
    )


@register("q100_pagerank", operators=("A11", "J1"), oracle=_q100_oracle())
def q100_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/pagerank.py) over the undirected
    customer-supplier trade graph (distinct (o_custkey, l_suppkey) pairs
    through orders⋈lineitem), 5 power iterations, d=0.85 — the
    iterative-graph-algorithm pattern beyond q45's label propagation,
    oracle-checked against 5 unrolled CTE iterations in DuckDB.
    Undirectedness guarantees outdeg ≥ 1 everywhere (no dangling-node
    mass leak); node ids are BIGINTs (2·custkey / 2·suppkey+1 — integer
    shuffle keys, not strings); the edge list and each round's
    node-sized rank state materialize via localCheckpoint (plan-tested:
    the final action rescans no parquet), and the 16k-node state
    broadcasts so the edge list never shuffles."""
    from cosmo_spark.operators.pagerank import pagerank

    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    e0 = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(
            (2 * F.col("o_custkey")).alias("src"),
            (2 * F.col("l_suppkey") + 1).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    out = pagerank(edges, iterations=5, damping=0.85, broadcast_state=True)
    return out.select("node", F.round("pagerank", 6).alias("pagerank"))


_Q102_ORACLE = """
WITH ev AS (SELECT event_id, event_type, value FROM events
            WHERE value IS NOT NULL),
ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
), med AS (
  SELECT event_type, sum(value) / count(*) AS median
  FROM ranked
  WHERE rn = (n + 1) / 2 OR rn = n / 2 OR rn = n / 2 + 1
  GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.event_id, abs(e.value - m.median) AS adev
  FROM ev e JOIN med m USING (event_type)
), rdev AS (
  SELECT event_type, adev,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY adev, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM dev
), mad AS (
  SELECT event_type, sum(adev) / count(*) AS mad
  FROM rdev
  WHERE rn = (n + 1) / 2 OR rn = n / 2 OR rn = n / 2 + 1
  GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value
FROM ev e JOIN med USING (event_type) JOIN mad USING (event_type)
WHERE 0.6745 * abs(e.value - med.median) > 3.5 * mad.mad
"""


@register("q102_robust_outliers", operators=("P3", "A7"), oracle=_Q102_ORACLE)
def q102_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD modified-z-score outliers per event type
    (operators/robust.py; Iglewicz & Hoaglin 1993) — the robust sibling
    of q04's mean±2σ rule (ref: cosmo/monitors/acq_monitors.py:79-90),
    which heavy-tailed telemetry breaks.  Medians come from
    ``distributed=True`` bucketed rank selection (q104's machinery —
    ``events`` has FIVE event types, the exact few-huge-groups shape
    where a per-group window sort collapses to 5 single-task sorts;
    round-6 verdict #1), never a grouped collect_list or a per-group
    full sort (plan-gated); the (group, median, mad) table broadcasts
    back into the fact scan; the outlier test is multiplication-only
    (0.6745·|x−med| > 3.5·MAD) so no division can diverge in the last
    ulp.  The oracle is unchanged: the bucketed selection lands on the
    same middle order statistics bit-for-bit."""
    from cosmo_spark.operators.robust import robust_outliers

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    out = robust_outliers(
        e, "event_type", "value", "event_id", z=3.5, distributed=True
    )
    return out.select("event_id", "event_type", "value")


_Q104_ORACLE = """
WITH ev AS (SELECT event_id, event_type, value FROM events
            WHERE value IS NOT NULL),
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       sum(value) / count(*) AS median
FROM ranked
WHERE rn = (n + 1) / 2 OR rn = n / 2 OR rn = n / 2 + 1
GROUP BY event_type
"""


@register("q104_distributed_median", operators=("A6", "A7"), oracle=_Q104_ORACLE)
def q104_distributed_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median with NO single-task group sort
    (operators/robust.grouped_median_distributed): per-(group, bucket)
    counts locate the middle rank(s) in a cumulative bucket table;
    degenerate buckets answer immediately and only a non-degenerate hot
    bucket's rows ever see a window.  This is q102's machinery made safe
    for the few-huge-groups shape (5 event types of 20 TB each) — the
    oracle is the plain ordered-rank median, so the gate proves the
    bucketed rank-selection IS the exact order statistic.

    r14 (verdict #5): the r13 distinct-value rewrite (pre-aggregate to a
    weighted (event_type, value) table, then rank by cumulative weights)
    lost an interleaved quiet-window A/B, recorded in OPTIMIZATION_r14.md:
    distributed min 1.31 s / weighted 1.41 s, distributed faster in 6 of
    7 alternating passes — the r13 "2.10 -> 1.36 s" claim was a
    noisy-window artifact the driver's own bench already contradicted.
    Reverted to the r12 distributed shape."""
    from cosmo_spark.operators.robust import grouped_median_distributed

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = grouped_median_distributed(e, "event_type", "value", "event_id")
    n = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return med.join(n, "event_type").select("event_type", "n", "median")


# HLL geometry + parity-sensitive fragments live ONCE in
# operators/sketches.py (shared with the streaming register maintainer);
# the oracle builders below consume them under the historical names.
from cosmo_spark.operators.sketches import (  # noqa: E402
    HLL_ALPHA as _HLL_ALPHA,
    HLL_M as _HLL_M,
    hll_lc_table as _hll_lc_table,
    hll_rho_sql as _hll_rho_sql,
)


def _q107_oracle() -> str:
    from cosmo_spark.queries.textops import _DUCK_POLY

    h = _DUCK_POLY.replace("{X}", "text")
    rho = _hll_rho_sql("w")
    # CAST: DuckDB reads the bare float literal as DECIMAL(18), which
    # overflows at *256*256 — and DECIMAL math wouldn't match Spark's
    # doubles anyway
    raw = (
        f"CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M} / "
        f"(sum(CAST(1.0 AS DOUBLE) / (1 << rho)) + ({_HLL_M} - count(*)))"
    )
    lc = "[" + ", ".join(
        f"CAST({x!r} AS DOUBLE)" for x in _hll_lc_table()
    ) + "]"
    # small-range (linear-counting) switch: raw is bit-exact across both
    # engines (dyadic-rational sum), so the branch decision agrees too
    est = (
        f"CASE WHEN v0 > 0 AND raw < {2.5 * _HLL_M!r} "
        f"THEN {lc}[v0] ELSE raw END"
    )
    return f"""
WITH hashed AS (
  SELECT source, {h} AS h FROM documents WHERE text IS NOT NULL
), rows_ AS (
  SELECT source, h, h % {_HLL_M} AS bucket, h // {_HLL_M} AS w FROM hashed
), regs AS (
  SELECT source, bucket, max({rho}) AS rho
  FROM rows_ GROUP BY source, bucket
), per_source AS (
  SELECT source, {est} AS est FROM (
    SELECT source, {raw} AS raw, {_HLL_M} - count(*) AS v0
    FROM regs GROUP BY source
  )
), exact AS (
  SELECT source, count(DISTINCT h) AS n_exact FROM rows_ GROUP BY source
), all_regs AS (
  SELECT bucket, max(rho) AS rho FROM regs GROUP BY bucket
), all_raw AS (
  SELECT {raw} AS raw, {_HLL_M} - count(*) AS v0
  FROM all_regs
  HAVING count(*) > 0
), all_row AS (
  SELECT '__all__' AS source,
         (SELECT count(DISTINCT h) FROM rows_) AS n_exact,
         {est} AS est
  FROM all_raw
)
SELECT source, n_exact, round(est, 3) AS hll_est,
       round(100.0 * (est - n_exact) / n_exact, 3) AS err_pct
FROM (
  SELECT e.source, e.n_exact, p.est
  FROM exact e JOIN per_source p USING (source)
  UNION ALL
  SELECT source, n_exact, est FROM all_row
)
"""


@register("q107_hll_sketch", operators=("A12",), oracle=_q107_oracle())
def q107_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-count sketch (Flajolet et al.
    2007) per source, PLUS the register-merge row ('__all__') that shows
    the property sketches exist for: registers from different partitions
    / sources / days combine by element-wise MAX without rescanning
    anything — the mergeable-state primitive behind incremental
    distinct-count dashboards at 100 TB (count(DISTINCT) re-shuffles the
    world; a 256-byte sketch does not).

    Parity discipline: the element hash is the catalog's arithmetic
    poly-hash (rule 6 — no library murmur), rho is an integer CASE (no
    log2), and every register term ``2^-rho`` is a dyadic rational whose
    256-term harmonic sum is EXACTLY representable at every partial sum
    (31 < 53 mantissa bits) — so the sum is order-independent and the
    DuckDB compare is bit-exact with rounding only at the output.
    Accuracy is the standard ~1.04/√m ≈ 6.5%; the oracle checks
    identical computation, and err_pct is emitted so the sketch's honest
    error rides in the result.

    Small-range correction (round-6 verdict #2): when empty registers
    exist (V > 0) and the raw estimate is below 2.5·m, the published
    estimator switches to linear counting, est = m·ln(m/V) — without it
    low-cardinality sources inherit the raw estimator's known upward
    bias (measured ~19x at n=10, m=256).  ln is the one transcendental,
    so both engines index the SAME Python-computed 256-entry m·ln(m/V)
    literal table (V is an integer in 1..m) — the branch stays bit-exact
    because raw itself is.

    Register construction and the estimator live in operators/sketches.py,
    shared verbatim with the STREAMING register maintainer
    (streaming/sketches.stream_hll_registers_windowed, read back by
    hll_distinct_estimates_windowed) — the same state this query computes
    in one batch is maintained incrementally, per event-time window, by
    merge-by-max there."""
    from cosmo_spark.functions.text import poly_hash
    from cosmo_spark.operators.sketches import hll_estimate, hll_registers

    d = _t(spark, sf_dir, "documents")
    rows = d.filter(F.col("text").isNotNull()).select(
        "source", poly_hash(F.col("text")).alias("h")
    )
    regs = hll_registers(d, ["source"], "text")
    per_source = hll_estimate(regs, ["source"])
    exact = rows.groupBy("source").agg(
        F.countDistinct("h").alias("n_exact")
    )
    all_regs = regs.groupBy("bucket").agg(F.max("rho").alias("rho"))
    all_est = hll_estimate(
        all_regs.withColumn("__g", F.lit(1)), ["__g"]
    ).drop("__g")
    all_exact = rows.agg(F.countDistinct("h").alias("n_exact"))
    all_row = all_exact.crossJoin(all_est).select(
        F.lit("__all__").alias("source"), "n_exact", "est"
    )
    combined = exact.join(per_source, "source").select(
        "source", "n_exact", "est"
    ).unionByName(all_row)
    return combined.select(
        "source", "n_exact",
        F.round("est", 3).alias("hll_est"),
        F.round(100.0 * (F.col("est") - F.col("n_exact")) / F.col("n_exact"), 3)
        .alias("err_pct"),
    )


# CMS geometry lives ONCE in operators/sketches.py (shared with the
# streaming counter maintainer); historical names kept for the oracle
# builders below.
from cosmo_spark.operators.sketches import (  # noqa: E402
    CMS_P as _CMS_P,
    CMS_ROWS as _CMS_ROWS,
    CMS_W as _CMS_W,
)

_CMS_TOPK = 20


def _q108_oracle() -> str:
    from cosmo_spark.queries.textops import _DUCK_POLY, _DUCK_TOKS

    th = _DUCK_POLY.replace("{X}", "tok")
    rows = " UNION ALL ".join(
        f"SELECT {i} AS r, ((th * {a} + {b}) % {_CMS_P}) % {_CMS_W} AS bucket, tok "
        f"FROM tokh"
        for i, (a, b) in enumerate(_CMS_ROWS)
    )
    return f"""
WITH tl AS (SELECT {_DUCK_TOKS} AS toks FROM documents),
tok AS (SELECT unnest(toks) AS tok FROM tl),
tokh AS (SELECT tok, {th} AS th FROM tok),
hashed AS ({rows}),
counters AS (
  SELECT r, bucket, count(*) AS cnt FROM hashed GROUP BY r, bucket
), exact AS (
  SELECT tok, count(*) AS n_exact FROM tokh GROUP BY tok
), top AS (
  SELECT tok, n_exact FROM exact
  ORDER BY n_exact DESC, tok LIMIT {_CMS_TOPK}
), toph AS (
  SELECT tok, n_exact, {th} AS th FROM top
), probes AS (
  {" UNION ALL ".join(
      f"SELECT tok, n_exact, {i} AS r, "
      f"((th * {a} + {b}) % {_CMS_P}) % {_CMS_W} AS bucket FROM toph"
      for i, (a, b) in enumerate(_CMS_ROWS)
  )}
)
SELECT p.tok AS token, p.n_exact, min(c.cnt) AS cms_est
FROM probes p JOIN counters c ON c.r = p.r AND c.bucket = p.bucket
GROUP BY p.tok, p.n_exact
"""


@register("q108_countmin_sketch", operators=("A12", "A11"), oracle=_q108_oracle())
def q108_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch (Cormode & Muthukrishnan 2005) over the
    corpus token stream, probed for the exact top-20 tokens:
    4 affine-permuted arithmetic hash rows × 1024 counters, estimate =
    min over rows — never an underestimate, overestimate bounded by
    collisions.  The sketch-family sibling of q107's HLL: counters are
    pure INTEGER state that merges by addition across partitions /
    days / sources without rescanning anything (heavy-hitter dashboards
    at 100 TB keep 16 KB of counters, not a token groupBy).

    Everything is integer arithmetic over the catalog's poly-hash (no
    library murmur, no floats anywhere), so the DuckDB compare is exact
    by construction."""
    from cosmo_spark.functions.text import poly_hash, tokenize
    from cosmo_spark.operators.sketches import cms_counters, cms_probe_rows

    d = _t(spark, sf_dir, "documents")
    tokh = d.select(
        F.explode(tokenize(F.col("text"))).alias("tok")
    ).select("tok", poly_hash(F.col("tok")).alias("th"))
    # counter construction is shared verbatim with the streaming
    # maintainer (operators/sketches.cms_counters): one corpus pass for
    # all 4 rows via an exploded inline (r, bucket) array
    counters = cms_counters(tokh)
    exact = tokh.groupBy("tok").agg(F.count(F.lit(1)).alias("n_exact"))
    top = exact.orderBy(F.desc("n_exact"), "tok").limit(_CMS_TOPK)
    # probe buckets recompute ROW-LOCALLY on the 20 top tokens — a
    # distinct over the 4x-token hashed stream would shuffle the corpus a
    # second time for information 20 rows already determine (measured
    # 11.7 s -> below at 10x)
    toph = top.select("tok", "n_exact", poly_hash(F.col("tok")).alias("th"))
    probes = F.broadcast(cms_probe_rows(toph, ["tok", "n_exact"]))
    return (
        probes.join(counters, ["r", "bucket"])
        .groupBy(F.col("tok").alias("token"), "n_exact")
        .agg(F.min("cnt").alias("cms_est"))
    )


#: reconciliation geometry: 256 digest buckets over the key hash
_MRK_B = 256
_MRK_P = 1_000_000_007


def _q109_oracle() -> str:
    # row fingerprint: arithmetic fold of the business columns (rule 6)
    rowh = (
        f"((((o_orderkey * 31 + o_custkey) % {_MRK_P}) * 31 "
        f"+ CAST(round(o_totalprice * 100) AS BIGINT)) % {_MRK_P})"
    )
    return f"""
WITH primary_ AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
), replica AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 1000 = 7 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 997 <> 3
), pd AS (
  SELECT o_orderkey % {_MRK_B} AS bucket,
         sum({rowh}) % {_MRK_P} AS digest, count(*) AS n
  FROM primary_ GROUP BY o_orderkey % {_MRK_B}
), rd AS (
  SELECT o_orderkey % {_MRK_B} AS bucket,
         sum({rowh}) % {_MRK_P} AS digest, count(*) AS n
  FROM replica GROUP BY o_orderkey % {_MRK_B}
)
SELECT coalesce(pd.bucket, rd.bucket) AS bucket,
       pd.n AS n_primary, rd.n AS n_replica,
       (pd.digest = rd.digest AND pd.n = rd.n) AS in_sync
FROM pd FULL OUTER JOIN rd ON pd.bucket = rd.bucket
WHERE pd.digest IS DISTINCT FROM rd.digest OR pd.n IS DISTINCT FROM rd.n
"""


@register("q109_merkle_reconcile", operators=("A11", "U1"), oracle=_q109_oracle())
def q109_merkle_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style replica reconciliation: both sides fold every row into
    a per-bucket digest (order-INSENSITIVE by construction — a modular
    SUM of arithmetic row fingerprints commutes, so no sort anywhere) and
    only buckets whose (digest, count) disagree need row-level repair —
    the anti-entropy primitive that lets two 100 TB replicas diff by
    exchanging 256 longs instead of 100 TB.  The 'replica' here is
    derived deterministically from orders (one mutated price per 1000
    keys, one deletion per 997), so the oracle can verify both the
    honest digests AND that exactly the mutated/deleted buckets surface.

    Scale shape: one map-side-combined groupBy per side (the shuffle
    carries 256 (digest, count) pairs per map partition), one 256-row
    full-outer join.  Row fingerprints are the catalog's arithmetic fold
    (rule 6) over the business columns with exact-cents price encoding.

    Overflow discipline (ADVICE r6): fingerprints are ~1e9, so a single
    int64 SUM wraps past ~9.2e9 rows per bucket — plausible at the scale
    this primitive serves.  The digest therefore reduces mod p at TWO
    levels: rows first fold into 4096 sub-digests per bucket (each
    reduced mod p), then the sub-digests (each < p) sum — max carry
    4096·1e9 ≈ 4e12 ≪ 2^63, and level one would need ~9.2e9 rows per
    SUB-group (~10^16 per bucket) to wrap.  Modular addition associates,
    so the result equals the oracle's single HUGEINT sum mod p exactly."""
    rowh = (
        (
            (F.col("o_orderkey") * 31 + F.col("o_custkey")) % _MRK_P
        ) * 31
        + F.round(F.col("o_totalprice") * 100).cast("long")
    ) % _MRK_P

    def digests(df):
        sub = df.groupBy(
            (F.col("o_orderkey") % (_MRK_B * 4096)).alias("__g")
        ).agg(
            (F.sum(rowh) % _MRK_P).alias("__d"),
            F.count(F.lit(1)).alias("__n"),
        )
        # __g % B recovers the bucket: B divides B*4096, so every
        # sub-group lands in exactly one bucket
        return sub.groupBy((F.col("__g") % _MRK_B).alias("bucket")).agg(
            (F.sum("__d") % _MRK_P).alias("digest"),
            F.sum("__n").alias("n"),
        )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    replica = o.filter(F.col("o_orderkey") % 997 != 3).select(
        "o_orderkey", "o_custkey",
        F.when(
            F.col("o_orderkey") % 1000 == 7, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    pd_, rd = digests(o), digests(replica)
    joined = pd_.alias("p").join(
        rd.alias("r"), F.col("p.bucket") == F.col("r.bucket"), "fullOuter"
    )
    differs = (
        ~F.col("p.digest").eqNullSafe(F.col("r.digest"))
        | ~F.col("p.n").eqNullSafe(F.col("r.n"))
    )
    return joined.filter(differs).select(
        F.coalesce(F.col("p.bucket"), F.col("r.bucket")).alias("bucket"),
        F.col("p.n").alias("n_primary"),
        F.col("r.n").alias("n_replica"),
        (
            F.col("p.digest").eqNullSafe(F.col("r.digest"))
            & F.col("p.n").eqNullSafe(F.col("r.n"))
        ).alias("in_sync"),
    )


def _ivf_centroids_duckdb() -> str:
    """IVF centroids as DuckDB VALUES rows — from the ACTIVE artifact set
    (committed literals on the test corpora, trainer output otherwise;
    queries/artifacts.py).  Called lazily from oracle builders so the
    oracle always embeds the same quantizer the Spark side resolved."""
    from cosmo_spark.queries.artifacts import get_vector_artifacts

    cents = get_vector_artifacts().centroids
    return ", ".join(
        f"({i}, {list(c)!r}::DOUBLE[])" for i, c in enumerate(cents)
    )


def _ivf_centroids_spark() -> str:
    from cosmo_spark.queries.artifacts import get_vector_artifacts

    cents = get_vector_artifacts().centroids
    return ", ".join(
        "({}, array({}))".format(i, ", ".join(f"{v}D" for v in c))
        for i, c in enumerate(cents)
    )


_Q44_ORACLE = f"""
WITH cents AS (
  SELECT * FROM (VALUES {{cents}}) c(bucket, centroid)
), cn AS (
  SELECT bucket, centroid,
         sqrt(list_sum(list_transform(centroid, x -> x * x))) AS cnorm
  FROM cents
), vn AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS n
  FROM embeddings
), assigned AS (
  SELECT vec_id, e, n, bucket FROM (
    SELECT v.vec_id, v.e, v.n, c.bucket,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             (CASE WHEN v.n * c.cnorm > 0 THEN
                list_sum(list_transform(list_zip(v.e, c.centroid), p -> p[1] * p[2]))
                  / (v.n * c.cnorm) END) DESC NULLS LAST, c.bucket) AS rn
    FROM vn v CROSS JOIN cn c) WHERE rn = 1
), probes AS (
  SELECT query_id, q_e, q_n, bucket FROM (
    SELECT v.vec_id AS query_id, v.e AS q_e, v.n AS q_n, c.bucket,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             (CASE WHEN v.n * c.cnorm > 0 THEN
                list_sum(list_transform(list_zip(v.e, c.centroid), p -> p[1] * p[2]))
                  / (v.n * c.cnorm) END) DESC NULLS LAST, c.bucket) AS rn
    FROM vn v CROSS JOIN cn c WHERE v.vec_id < 8) WHERE rn <= 10
), pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CASE WHEN p.q_n * a.n > 0 THEN
           list_sum(list_transform(list_zip(p.q_e, a.e), x -> x[1] * x[2]))
             / (p.q_n * a.n) END AS sim
  FROM probes p JOIN assigned a USING (bucket)
  WHERE p.query_id <> a.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
"""


@register(
    "q44_ivf_ann",
    operators=("SIM2",),
    oracle=lambda: _Q44_ORACLE.format(cents=_ivf_centroids_duckdb()),
)
def q44_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate nearest neighbors — the 100 TB similarity
    path: corpus assigned to coarse centroid buckets once; each query probes
    nprobe buckets, so the pair join touches a fraction of the corpus.

    Centroids are an offline-trained literal artifact
    (queries/ivf_centroids.py: deterministic k-means over the embeddings,
    regenerate with tools/train_ivf_centroids.py) — the production IVF
    pattern, and what makes the whole assign/probe/re-rank pipeline
    SQL-expressible so the DuckDB oracle gates it end-to-end.

    Geometry k=40, nprobe=10: measured recall@5 vs the exact q32 top-k is
    **0.850** at a 25% scanned fraction.  Chosen from the grid in
    tools/train_ivf_centroids.py — at a fixed 25% budget a finer quantizer
    (k=40..64, single assignment) measured strictly better than the former
    k=10 (0.625 at 20%) and better than top-2 multi-assignment replication
    at every k.  The synthetic vectors are near-uniform on the sphere (the
    hardest case for IVF); on clustered real embeddings the same code
    probes less for more.
    """
    from cosmo_spark.operators.similarity import ivf_cosine_topk
    from cosmo_spark.queries.artifacts import resolve_vector_artifacts

    e = _t(spark, sf_dir, "embeddings")
    resolve_vector_artifacts(spark, sf_dir)
    # literal dim via SQL VALUES — stays JVM-side, mirrors the oracle exactly
    centroids = spark.sql(
        f"SELECT * FROM VALUES {_ivf_centroids_spark()} AS t(bucket, centroid)"
    )
    queries = e.filter(F.col("vec_id") < 8)
    out = ivf_cosine_topk(
        e, queries, centroids, "embedding", "vec_id", k=5, nprobe=10
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------------- #
# q51 — full dark-region catalog fan-out (11 regions, one pass)               #
# --------------------------------------------------------------------------- #

def _dark_region_values() -> str:
    """The 11-region catalog as a VALUES list, shared verbatim between the
    Spark literal dim and the DuckDB oracle so they can never drift
    (ref: cosmo/monitors/dark_monitors.py:474-575)."""
    from cosmo_spark.monitors.dark import REGIONS

    return ", ".join(
        f"('{seg}', '{name}', {float(x0)}, {float(x1)}, {float(y0)}, {float(y1)})"
        for seg, by_name in REGIONS.items()
        for name, (x0, x1, y0, y1) in by_name.items()
    )


_Q51_ORACLE = f"""
WITH ev AS (
  SELECT CASE WHEN user_id % 3 = 0 THEN 'FUVA'
              WHEN user_id % 3 = 1 THEN 'FUVB'
              ELSE 'N/A' END AS seg,
         CAST(event_id % 16384 AS DOUBLE) AS xcorr,
         CAST((event_id * 7) % 1100 AS DOUBLE) AS ycorr,
         event_id % 32 AS pha,
         value AS t
  FROM events
), regions AS (
  SELECT * FROM (VALUES {_dark_region_values()})
  r(seg, region, x0, x1, y0, y1)
)
SELECT e.seg AS SEGMENT, r.region,
       CAST(floor(e.t / 25.0) AS BIGINT) AS time_bin,
       count(*) AS n_events,
       (r.x1 - r.x0) * (r.y1 - r.y0) AS npix,
       count(*) / ((r.x1 - r.x0) * (r.y1 - r.y0) * 25.0) AS dark_rate
FROM ev e JOIN regions r
  ON e.seg = r.seg
 AND e.xcorr > r.x0 AND e.xcorr < r.x1
 AND e.ycorr > r.y0 AND e.ycorr < r.y1
WHERE e.seg = 'N/A' OR (e.pha > 2 AND e.pha < 23)
GROUP BY e.seg, r.region, time_bin, r.x0, r.x1, r.y0, r.y1
"""


@register(
    "q51_dark_region_catalog",
    operators=("U4", "P4", "P5", "A9", "F5"),
    oracle=_Q51_ORACLE,
)
def q51_dark_region_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full 13-class dark-monitor catalog (11 distinct
    regions: 5 FUVA + 5 FUVB edges/inner + NUV full frame) as ONE fan-out
    pass (ref: cosmo/monitors/dark_monitors.py:474-575, dark_filter :53-98).

    Detector coordinates are synthesized deterministically from event ids so
    the oracle reproduces them exactly; the join/aggregation shape is the
    production dark monitor's: broadcast region dim with strict range
    predicates (regions overlap at corners, so one event can feed several
    series), FUV-only PHA band, 25 s time bins, rate = n / (npix * step).
    At 100 TB the event scan stays fully parallel — the only shuffle is the
    final (segment, region, bin) aggregation.
    """
    from cosmo_spark.monitors.dark import TIME_STEP

    e = _t(spark, sf_dir, "events")
    ev = e.select(
        F.when(F.col("user_id") % 3 == 0, F.lit("FUVA"))
        .when(F.col("user_id") % 3 == 1, F.lit("FUVB"))
        .otherwise(F.lit("N/A")).alias("seg"),
        (F.col("event_id") % 16384).cast("double").alias("xcorr"),
        ((F.col("event_id") * 7) % 1100).cast("double").alias("ycorr"),
        (F.col("event_id") % 32).alias("pha"),
        F.col("value").alias("t"),
    )
    regions = spark.sql(
        f"SELECT * FROM (VALUES {_dark_region_values()}) "
        "AS r(r_seg, region, x0, x1, y0, y1)"
    ).select(
        "r_seg", "region",
        # the VALUES literal is shared verbatim with the DuckDB oracle, so
        # it has no Spark `D` suffixes — without the cast Spark types the
        # bounds DECIMAL and npix becomes decimal(14,2) vs float64
        *[F.col(c).cast("double").alias(c) for c in ("x0", "x1", "y0", "y1")],
    )
    return (
        ev.join(
            F.broadcast(regions),
            (F.col("seg") == F.col("r_seg"))
            & (F.col("xcorr") > F.col("x0")) & (F.col("xcorr") < F.col("x1"))
            & (F.col("ycorr") > F.col("y0")) & (F.col("ycorr") < F.col("y1")),
        )
        .filter((F.col("seg") == "N/A") | ((F.col("pha") > 2) & (F.col("pha") < 23)))
        .groupBy(
            F.col("seg").alias("SEGMENT"),
            "region",
            F.floor(F.col("t") / F.lit(TIME_STEP)).cast("long").alias("time_bin"),
            "x0", "x1", "y0", "y1",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("npix", (F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0")))
        .withColumn(
            "dark_rate", F.col("n_events") / (F.col("npix") * F.lit(TIME_STEP))
        )
        .drop("x0", "x1", "y0", "y1")
    )


#: KMV geometry: k = 64 minimum distinct hash values per scope, hash
#: domain [0, 1e9+7) (the catalog's arithmetic poly-hash).  Shared with
#: the streaming maintainer via operators/sketches.py (one definition,
#: zero drift — the q107 HLL extraction discipline).
from cosmo_spark.operators.sketches import (  # noqa: E402
    KMV_K as _KMV_K,
    KMV_P as _KMV_P,
)

#: (k-1)*P — 6.3e10 < 2^53, exact in a double.  Derived here because the
#: operator computes it from its k parameter (advice r7); the oracle and
#: the q110 pair-algebra need the default-geometry literal.
_KMV_NUMER = (_KMV_K - 1) * _KMV_P


def _q110_oracle() -> str:
    from cosmo_spark.queries.textops import _DUCK_POLY, _DUCK_TOKS

    th = _DUCK_POLY.replace("{X}", "tok")
    est = (
        f"CASE WHEN {{n}} < {_KMV_K} THEN CAST({{n}} AS DOUBLE) "
        f"ELSE CAST({_KMV_NUMER} AS DOUBLE) / CAST({{hk}} AS DOUBLE) END"
    )
    return f"""
WITH tl AS (SELECT source, {_DUCK_TOKS} AS toks FROM documents),
tok AS (SELECT source, unnest(toks) AS tok FROM tl),
hs AS (SELECT DISTINCT source, {th} AS h FROM tok),
ranked AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h) AS r
  FROM hs
), sk AS (SELECT source, h FROM ranked WHERE r <= {_KMV_K}),
stats AS (SELECT source, count(*) AS n_sk, max(h) AS hk FROM sk GROUP BY source),
nex AS (SELECT source, count(*) AS n_exact FROM hs GROUP BY source),
per_source AS (
  SELECT s.source AS scope, n.n_exact,
         {est.format(n="s.n_sk", hk="s.hk")} AS est
  FROM stats s JOIN nex n USING (source)
),
pairs AS (
  SELECT a.source AS sa, b.source AS sb,
         a.n_exact AS na, b.n_exact AS nb
  FROM nex a JOIN nex b ON a.source < b.source
),
merged AS (
  SELECT DISTINCT sa, sb, h FROM (
    SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s ON s.source = p.sa
    UNION ALL
    SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s ON s.source = p.sb
  )
),
mrank AS (
  SELECT sa, sb, h,
         row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS r
  FROM merged
), msk AS (SELECT sa, sb, h FROM mrank WHERE r <= {_KMV_K}),
ustats AS (
  SELECT sa, sb, count(*) AS n_um, max(h) AS huk FROM msk GROUP BY sa, sb
),
both_ AS (
  SELECT m.sa, m.sb, count(*) AS c
  FROM msk m
  JOIN sk x ON x.source = m.sa AND x.h = m.h
  JOIN sk y ON y.source = m.sb AND y.h = m.h
  GROUP BY m.sa, m.sb
),
iex AS (
  SELECT a.source AS sa, b.source AS sb, count(*) AS n_int
  FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
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
  SELECT scope, n_exact, est FROM per_source
  UNION ALL
  SELECT sa || '|' || sb || '|union', n_union, uest FROM pair_est
  UNION ALL
  SELECT sa || '|' || sb || '|intersect', n_int,
         CASE WHEN n_um < {_KMV_K} THEN CAST(c AS DOUBLE)
              ELSE (CAST(c AS DOUBLE) / {_KMV_K}) * uest END
  FROM pair_est
)
SELECT scope, n_exact, round(est, 3) AS kmv_est,
       CASE WHEN n_exact > 0
            THEN round(100.0 * (est - n_exact) / n_exact, 3) END AS err_pct
FROM unioned
"""


@register("q110_kmv_theta_sketch", operators=("A12", "A14"), oracle=_q110_oracle())
def q110_kmv_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta distinct sketch (Bar-Yossef et al. 2002; Dasgupta et
    al. 2016 theta unions) over per-source token vocabularies — the
    sketch-family member HLL (q107) cannot replace: the retained hash
    VALUES support set algebra, so two 64-long sketches estimate their
    UNION (kth smallest of the merged values) and INTERSECTION
    (inclusion fraction of the union sample) without rescanning either
    side — vocabulary-overlap dashboards across 100 TB sources exchange
    512-byte sketches, not vocabularies.  Fewer than k observed values
    means the sketch IS the exact set (est = n, the exact branch both
    engines share).

    Scale shape (the q104 rank-selection discipline, never a per-source
    full sort): distinct token hashes bucket into 4096 hash-range cells;
    a tiny cumulative bucket table locates the bucket holding the kth
    value; only rows in buckets <= that cutoff (expected ~k per source)
    ever reach the ranking window, which sits above the distinct
    Aggregate.  All pair algebra runs on the 64-row sketches.

    Parity: hashes are the catalog's arithmetic poly-hash; the only
    float arithmetic is the final (k-1)*P/h_k division (identical
    operand order both engines; (k-1)*P = 6.3e10 is double-exact) and
    the intersection's (c/k)*union scaling."""
    from pyspark.sql.window import Window

    from cosmo_spark.functions.text import poly_hash, tokenize

    d = _t(spark, sf_dir, "documents")
    # hs feeds FOUR consumers, but deliberately NOT .persist()ed: every
    # consumer sees the IDENTICAL subplan, so AQE's ReusedExchange already
    # shares the expensive token-hash shuffle (measured at sf0.1: 3.8 s
    # unpersisted vs 11.0 s persisted — caching only added
    # InMemoryTableScan overhead).  The q106 persist discipline applies
    # when branches differ enough (pushed filters) to defeat exchange
    # reuse; these don't.
    hs = (
        d.select("source", F.explode(tokenize(F.col("text"))).alias("tok"))
        .select("source", poly_hash(F.col("tok")).alias("h"))
        .groupBy("source", "h").agg(F.lit(1).alias("__one")).drop("__one")
    )
    # per-source k smallest hashes: the shared bucket-cutoff rank
    # selection (operators/sketches.py kmv_k_smallest — same fragment the
    # streaming maintainer uses)
    from cosmo_spark.operators.sketches import kmv_k_smallest

    sk = kmv_k_smallest(hs, ["source"])
    numer = F.lit(_KMV_NUMER).cast("double")

    def est(n_col, hk_col):
        return F.when(
            n_col < _KMV_K, n_col.cast("double")
        ).otherwise(numer / hk_col.cast("double"))

    stats = sk.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("hk")
    )
    nex = hs.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    per_source = stats.join(nex, "source").select(
        F.col("source").alias("scope"), "n_exact",
        est(F.col("n_sk"), F.col("hk")).alias("est"),
    )

    a, b = nex.alias("a"), nex.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("sa"), F.col("b.source").alias("sb"),
        F.col("a.n_exact").alias("na"), F.col("b.n_exact").alias("nb"),
    )
    merged = (
        pairs.join(sk, sk["source"] == pairs["sa"]).select("sa", "sb", "h")
        .unionByName(
            pairs.join(sk, sk["source"] == pairs["sb"]).select("sa", "sb", "h")
        )
        .distinct()
    )
    w_pair = Window.partitionBy("sa", "sb").orderBy("h")
    msk = (
        merged.withColumn("r", F.row_number().over(w_pair))
        .filter(F.col("r") <= _KMV_K)
        .select("sa", "sb", "h")
    )
    ustats = msk.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).alias("n_um"), F.max("h").alias("huk")
    )
    skx, sky = sk.alias("x"), sk.alias("y")
    both = (
        msk.join(skx, (F.col("x.source") == F.col("sa"))
                 & (F.col("x.h") == msk["h"]))
        .join(sky, (F.col("y.source") == F.col("sb"))
              & (F.col("y.h") == msk["h"]))
        .groupBy("sa", "sb").agg(F.count(F.lit(1)).alias("c"))
    )
    ha, hb = hs.alias("ia"), hs.alias("ib")
    iex = (
        ha.join(hb, (F.col("ia.h") == F.col("ib.h"))
                & (F.col("ia.source") < F.col("ib.source")))
        .groupBy(
            F.col("ia.source").alias("sa"), F.col("ib.source").alias("sb")
        )
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
        F.when(F.col("n_um") < _KMV_K, F.col("c0").cast("double"))
        .otherwise((F.col("c0").cast("double") / _KMV_K) * F.col("uest"))
        .alias("est"),
    )
    out = per_source.unionByName(union_rows).unionByName(int_rows)
    return out.select(
        "scope", "n_exact",
        F.round("est", 3).alias("kmv_est"),
        F.when(
            F.col("n_exact") > 0,
            F.round(100.0 * (F.col("est") - F.col("n_exact"))
                    / F.col("n_exact"), 3),
        ).alias("err_pct"),
    )


_Q111_ORACLE = """
WITH dm AS (
  SELECT o_orderdate AS d, max(o_totalprice) AS pmax
  FROM orders GROUP BY o_orderdate
), sfx AS (
  SELECT d, pmax,
         max(pmax) OVER (ORDER BY d DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS later_max
  FROM dm
)
SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o.o_totalprice
FROM orders o JOIN sfx ON o.o_orderdate = sfx.d
WHERE o.o_totalprice = sfx.pmax
  AND (sfx.later_max IS NULL OR sfx.pmax > sfx.later_max)
"""


@register("q111_pareto_skyline", operators=("P3", "A14"), oracle=_Q111_ORACLE)
def q111_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) of orders maximizing (o_orderdate,
    o_totalprice): an order survives iff NO other order is >= on both
    dimensions with at least one strict — the classic dominance query
    (Borzsony/Kossmann/Stocker 2001) used in training-data selection
    ("keep documents no other beats on freshness AND quality").

    The naive formulation is an O(n²) NOT EXISTS self-join; 2-D dominance
    decomposes exactly into two aggregate-bounded steps: (1) per-date max
    price (one map-side-combined groupBy — the ONLY fact-table shuffle),
    (2) a strictly-later-dates running max over the tiny date table
    (global window OVER the Aggregate, SCALE.md-sanctioned).  A row is on
    the frontier iff its price equals its date's max (ties: all non-
    dominated) and strictly exceeds every later date's max.  The fact
    table is then re-joined once against the broadcast frontier-date
    table — O(n) total, no self-join at any size."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    dm = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.max("o_totalprice").alias("pmax")
    )
    w_sfx = (
        Window.orderBy(F.desc("d"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sfx = dm.withColumn("later_max", F.max("pmax").over(w_sfx)).filter(
        F.col("later_max").isNull() | (F.col("pmax") > F.col("later_max"))
    )
    return (
        o.join(F.broadcast(sfx), o["o_orderdate"] == sfx["d"])
        .filter(F.col("o_totalprice") == F.col("pmax"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
        )
    )


_Q112_ORACLE = """
WITH ev AS (
  SELECT user_id,
         CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) AS ym
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), um AS (SELECT DISTINCT user_id, ym FROM ev),
firsts AS (SELECT user_id, min(ym) AS cohort_ym FROM um GROUP BY user_id),
sizes AS (SELECT cohort_ym, count(*) AS cohort_size FROM firsts GROUP BY cohort_ym),
ret AS (
  SELECT f.cohort_ym, u.ym - f.cohort_ym AS months_since,
         count(*) AS n_users
  FROM um u JOIN firsts f USING (user_id)
  GROUP BY f.cohort_ym, u.ym - f.cohort_ym
)
SELECT printf('%04d-%02d', r.cohort_ym // 12, r.cohort_ym % 12 + 1)
         AS cohort_month,
       r.months_since, r.n_users,
       round(100.0 * r.n_users / s.cohort_size, 3) AS retention_pct
FROM ret r JOIN sizes s USING (cohort_ym)
"""


@register("q112_cohort_retention", operators=("A11", "A13"), oracle=_Q112_ORACLE)
def q112_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle over the event stream: users cohorted by
    the month of their FIRST event; each later active month contributes
    to (cohort, months_since) with retention as a percentage of cohort
    size — the standard growth-analytics rollup, and the user-level
    sibling of q78's rollup cascade.

    Scale shape: ONE distinct (user, month) aggregate bounds everything
    downstream (activity table ≤ users × months); first-month and cohort
    sizes are aggregates of aggregates; the retention join is
    user-keyed, never fact-scale.  All month arithmetic is integer
    (year*12 + month), so the two engines agree exactly."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    um = e.select(
        "user_id",
        (F.year("ts") * 12 + F.month("ts") - 1).cast("long").alias("ym"),
    ).distinct()
    firsts = um.groupBy("user_id").agg(F.min("ym").alias("cohort_ym"))
    sizes = firsts.groupBy("cohort_ym").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = (
        um.join(firsts, "user_id")
        .groupBy(
            "cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("months_since")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    return ret.join(F.broadcast(sizes), "cohort_ym").select(
        F.format_string(
            "%04d-%02d",
            (F.col("cohort_ym") / 12).cast("long"),
            (F.col("cohort_ym") % 12 + 1).cast("long"),
        ).alias("cohort_month"),
        "months_since", "n_users",
        F.round(
            100.0 * F.col("n_users") / F.col("cohort_size"), 3
        ).alias("retention_pct"),
    )


_Q113_ORACLE = """
WITH ev AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'error')
), vb AS (
  SELECT value,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cp,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS ce
  FROM ev GROUP BY value
), cum AS (
  SELECT value, cp, ce,
         coalesce(sum(ce) OVER (ORDER BY value
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ce_lt
  FROM vb
), tot AS (
  -- CAST: DuckDB promotes sum() to HUGEINT (pandas float64), which would
  -- fail the dtype gate against Spark's BIGINT
  SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(ce) AS BIGINT) AS ne FROM vb
)
SELECT np AS n_pos, ne AS n_neg,
       CASE WHEN np * ne > 0 THEN
         round(CAST(sum(cp * (2 * ce_lt + ce)) AS DOUBLE)
               / CAST(2 * np * ne AS DOUBLE), 6) END AS auc
FROM cum CROSS JOIN tot
GROUP BY np, ne
"""


@register("q113_rank_auc", operators=("A6", "A11"), oracle=_Q113_ORACLE)
def q113_rank_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney AUC of `value` separating purchase from error
    events — the ranking-quality metric a training pipeline computes over
    model scores (AUC = P(score_pos > score_neg) + 0.5*P(tie), the
    rank-sum identity, ties handled exactly).

    Scale shape: NO global rank of raw rows.  Per-VALUE class counts (one
    fact shuffle, an Aggregate) feed the below-count to
    ``grouped_less_cumsum`` (operators/robust.py — the catalog's shared
    exact-rank primitive: bucket-cumulative + in-bucket layers, exactness
    independent of the float bucket boundaries).  All accumulation is
    INTEGER (the tie term rides as 2*below + ties), with one final double
    division mirrored exactly in the oracle.  int64 bound: the numerator
    is <= 2*n_pos*n_neg, which wraps past ~2e9 rows per class — the
    q109-style two-level modular trick does not apply to a non-modular
    ratio, so the bound rides here in the docstring instead."""
    from cosmo_spark.operators.robust import grouped_less_cumsum

    e = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "error")
    ).select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("wp"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("we"),
    )
    vb = e.groupBy("value").agg(
        F.sum("wp").alias("cp"), F.sum("we").alias("ce")
    )
    # feed the ALREADY-AGGREGATED per-value table to the rank primitive:
    # passing the raw fact rows would re-shuffle the fact set a second
    # time to recompute sums vb already holds (review r7) — over vb the
    # primitive's internal groupBy touches only distinct values
    lc = grouped_less_cumsum(vb, None, "value", weight="ce", out_col="ce_lt")
    vbc = vb.join(lc.select("value", "ce_lt"), "value")
    tot = vb.agg(F.sum("cp").alias("np"), F.sum("ce").alias("ne"))
    return (
        vbc.crossJoin(F.broadcast(tot))
        .groupBy("np", "ne")
        .agg(
            F.sum(
                F.col("cp") * (2 * F.col("ce_lt") + F.col("ce"))
            ).alias("num2")
        )
        .select(
            F.col("np").alias("n_pos"), F.col("ne").alias("n_neg"),
            F.when(
                F.col("np") * F.col("ne") > 0,
                F.round(
                    F.col("num2").cast("double")
                    / (2 * F.col("np") * F.col("ne")).cast("double"), 6
                ),
            ).alias("auc"),
        )
    )


_Q114_ORACLE = """
SELECT doc_id, source, n_chars,
       round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6)
         AS pct
FROM documents
WHERE n_chars IS NOT NULL AND source IS NOT NULL
"""


@register("q114_percentile_normalize", operators=("A6", "W6"), oracle=_Q114_ORACLE)
def q114_percentile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source percentile normalization of document length — the
    quantile feature transform a curriculum/quality pipeline applies
    before mixing heterogeneous sources (raw n_chars is not comparable
    across sources; its within-source percent_rank is).

    The oracle is the plain SQL ``percent_rank()`` window — which on the
    Spark side would sort each source in ONE task (the q102 trap).  The
    engine instead uses ``grouped_percent_rank`` (operators/robust.py):
    per-(source, length) counts + the bucket-cumulative / in-bucket
    decomposition give every row its exact tie-shared rank with
    parallelism ~ groups x buckets, then one value-keyed join hydrates
    the per-document rows.  Ties share a rank by construction (the VALUE
    is the aggregation unit), matching SQL competition ranking bit-for-
    bit."""
    from cosmo_spark.operators.robust import grouped_percent_rank

    d = _t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("source").isNotNull()
    )
    pr = grouped_percent_rank(d, "source", "n_chars")
    return d.select("doc_id", "source", "n_chars").join(
        pr, ["source", "n_chars"]
    ).select(
        "doc_id", "source", "n_chars", F.round("pct", 6).alias("pct")
    )


_Q116_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_partkey IS NOT NULL AND b.l_partkey IS NOT NULL
        AND a.l_orderkey IS NOT NULL
), e AS (
  SELECT u, v FROM pairs
  WHERE ((u * 1000003 + v) % 1000000007) % 5 = 0
), deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) t
  GROUP BY node
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), corner AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri) t
  GROUP BY node
)
SELECT d.node, d.degree,
       coalesce(c.triangles, 0) AS triangles,
       coalesce(c.triangles, 0) * 125 AS tri_est,
       CASE WHEN d.degree >= 2
            THEN round(2.0 * coalesce(c.triangles, 0)
                       / (d.degree * (d.degree - 1)), 6)
            ELSE 0.0 END AS clust_coeff
FROM deg d LEFT JOIN corner c ON c.node = d.node
"""


@register("q116_triangle_count", operators=("J1", "A11"), oracle=_Q116_ORACLE)
def q116_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient of the part
    co-purchase graph (parts are adjacent iff they appear in the same
    order), on a deterministically edge-sparsified copy — the graph-density
    diagnostics a pipeline runs over similarity / co-occurrence graphs.

    Two published techniques compose here:

    * DOULION edge sparsification (Tsourakakis et al., KDD 2009): each
      edge is kept iff an integer hash of (u, v) lands in 1/5 of the
      space — a deterministic Bernoulli(p=0.2) thinning, reproducible in
      ANSI SQL (no RNG), and per-node triangle counts scale back by
      1/p^3 = 125 (``tri_est``).  At 100 TB the co-purchase graph's wedge
      count grows superlinearly; sparsification is the published lever
      that keeps enumeration affordable at a chosen accuracy.
    * degree-oriented wedge enumeration (operators/graph.py): each
      triangle found exactly once at its lowest-(degree, id) corner,
      sum(outdeg^2) = O(m^1.5) bound, hubs never fan out — the skew-proof
      shape, plan-checked in tests/test_graph_robust.py.

    The oracle replays the identical sampled graph with the naive
    3-way join (exact at sf0.01), so the orientation machinery is
    certified against the textbook definition."""
    from cosmo_spark.operators.graph import copurchase_edges, triangle_counts

    e = copurchase_edges(_t(spark, sf_dir, "lineitem"))
    tc = triangle_counts(e)
    return tc.select(
        "node",
        "degree",
        "triangles",
        (F.col("triangles") * F.lit(125)).alias("tri_est"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.lit(2.0) * F.col("triangles")
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("clust_coeff"),
    )


# Benford first-digit probabilities log10(1 + 1/d), shared verbatim by the
# Spark plan and the DuckDB oracle so both engines fold the SAME double
# literals (the q107 lookup-table discipline: Python computes the
# transcendental once, both engines do only +-*/ on it).
_BENFORD_P = [
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
]


def _q117_oracle() -> str:
    digit_rows = ", ".join(
        # CAST: DuckDB types bare decimal literals as DECIMAL, whose squared
        # products overflow DECIMAL(38); both engines must do DOUBLE math.
        f"({d}, CAST({_BENFORD_P[d - 1]!r} AS DOUBLE))" for d in range(1, 10)
    )
    return f"""
WITH b(digit, p) AS (VALUES {digit_rows}),
src AS (
  SELECT o_orderpriority AS grp,
         CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INTEGER) AS digit
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1
        AND o_orderpriority IS NOT NULL
), obs AS (
  SELECT grp, digit, count(*) AS n_obs FROM src GROUP BY grp, digit
), tot AS (
  SELECT grp, sum(n_obs) AS n FROM obs GROUP BY grp
), grid AS (
  SELECT t.grp, t.n, b.digit, b.p FROM tot t CROSS JOIN b
)
SELECT g.grp, g.digit,
       coalesce(o.n_obs, 0) AS n_obs,
       round(g.n * g.p, 4) AS n_expected,
       round((coalesce(o.n_obs, 0) - g.n * g.p)
             * (coalesce(o.n_obs, 0) - g.n * g.p) / (g.n * g.p), 6)
         AS chi2_term
FROM grid g LEFT JOIN obs o ON o.grp = g.grp AND o.digit = g.digit
"""


@register("q117_benford_profile", operators=("A5", "A11"), oracle=_q117_oracle())
def q117_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit conformance profile of order totals
    per priority class — the classic anomaly/fraud data-quality screen
    (Benford 1938; Nigrini's digit-analysis auditing): for each group and
    digit 1-9, the observed count, the Benford-expected count, and the
    chi-square term ((obs - exp)^2 / exp) whose per-group sum is the test
    statistic.

    Cross-engine determinism: the leading digit comes from integer/string
    arithmetic (floor -> BIGINT -> VARCHAR -> first char — both engines
    print integers identically; no double formatting, no log10 at query
    time), and the expected probabilities are Python-computed literals
    shared verbatim with the oracle.

    Scale shape: ONE map-side-combined fact shuffle of (group, digit)
    partial counts — at most 9 x |groups| rows survive; the digit grid
    (groups x 9, zero-observation digits included so sparse groups still
    produce their full chi-square) and all arithmetic live on the
    aggregate.  Pure aggregation: no window, no join against the fact
    table, 100 TB-safe by construction."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
        & (F.col("o_totalprice") >= 1)
        & F.col("o_orderpriority").isNotNull()
    )
    obs = (
        o.select(
            F.col("o_orderpriority").alias("grp"),
            F.substring(
                F.floor("o_totalprice").cast("long").cast("string"), 1, 1
            ).cast("int").alias("digit"),
        )
        .groupBy("grp", "digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = obs.groupBy("grp").agg(F.sum("n_obs").alias("n"))
    b = F.array(*[
        F.struct(F.lit(d).alias("digit"), F.lit(_BENFORD_P[d - 1]).alias("p"))
        for d in range(1, 10)
    ])
    grid = tot.select(
        "grp", "n", F.explode(b).alias("bd")
    ).select("grp", "n", F.col("bd.digit").alias("digit"), F.col("bd.p").alias("p"))
    exp_n = F.col("n") * F.col("p")
    dev = F.coalesce(F.col("n_obs"), F.lit(0)) - exp_n
    return (
        grid.join(obs, ["grp", "digit"], "left")
        .select(
            "grp",
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
            F.round(exp_n, 4).alias("n_expected"),
            F.round(dev * dev / exp_n, 6).alias("chi2_term"),
        )
    )


_Q119_K = 18

_Q119_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_partkey IS NOT NULL AND b.l_partkey IS NOT NULL
        AND a.l_orderkey IS NOT NULL
), e0 AS (
  SELECT u, v FROM pairs
  WHERE ((u * 1000003 + v) % 1000000007) % 5 = 0
), d1 AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0) t
  GROUP BY node
), k1 AS (SELECT node FROM d1 WHERE deg >= {_Q119_K}),
e1 AS (
  SELECT e0.u, e0.v FROM e0
  JOIN k1 a ON a.node = e0.u JOIN k1 b ON b.node = e0.v
), d2 AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM e1 UNION ALL SELECT v AS node FROM e1) t
  GROUP BY node
), k2 AS (SELECT node FROM d2 WHERE deg >= {_Q119_K}),
e2 AS (
  SELECT e1.u, e1.v FROM e1
  JOIN k2 a ON a.node = e1.u JOIN k2 b ON b.node = e1.v
)
SELECT node, count(*) AS degree FROM (
  SELECT u AS node FROM e2 UNION ALL SELECT v AS node FROM e2) t
GROUP BY node
"""


@register("q119_kcore_peel", operators=("J3", "A11"), oracle=_Q119_ORACLE)
def q119_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two peel rounds toward the 18-core of the sampled part co-purchase
    graph (same deterministic DOULION thinning as q116): the dense-
    subgraph screen (Matula & Beck 1983) a pipeline uses to isolate
    tightly-coupled item/near-dup communities and spam farms.

    Bounded iteration exactly like q100's power iteration: the operator
    (operators/graph.py kcore_peel) runs a fixed round count with a
    localCheckpoint barrier per round, and the oracle unrolls the same
    two rounds as CTEs — min(degree) in the output vs k says whether the
    peel already converged.  Per round: one map-side degree aggregation
    + two node-keyed semi-joins; edges only shrink."""
    from cosmo_spark.operators.graph import copurchase_edges, kcore_peel

    e = copurchase_edges(_t(spark, sf_dir, "lineitem"))
    return kcore_peel(e, k=_Q119_K, rounds=2)


_Q121_ORACLE = """
WITH f AS (
  SELECT o_orderpriority AS grp, o_totalprice AS x,
         epoch(o_orderdate) AS y
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        AND o_orderdate IS NOT NULL
), r AS (
  SELECT grp,
         2 * rank() OVER (PARTITION BY grp ORDER BY x)
           + count(*) OVER (PARTITION BY grp, x) - 1 AS r2x,
         2 * rank() OVER (PARTITION BY grp ORDER BY y)
           + count(*) OVER (PARTITION BY grp, y) - 1 AS r2y
  FROM f
), s AS (
  SELECT grp, count(*) AS n,
         CAST(sum(r2x) AS BIGINT) AS sx, CAST(sum(r2y) AS BIGINT) AS sy,
         CAST(sum(r2x * r2x) AS BIGINT) AS sxx,
         CAST(sum(r2y * r2y) AS BIGINT) AS syy,
         CAST(sum(r2x * r2y) AS BIGINT) AS sxy
  FROM r GROUP BY grp
)
SELECT grp, n,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
             AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
            THEN round(
              (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                     * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
              6)
       END AS spearman_rho
FROM s
"""


@register("q121_spearman_corr", operators=("A6", "A4"), oracle=_Q121_ORACLE)
def q121_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Spearman rank correlation between order value and order
    date — the distribution-free monotone-association screen (price
    drift over time per priority class) pipelines prefer over Pearson on
    heavy-tailed metrics.

    Tie-aware average ranks come from the shared exact-rank primitive
    (operators/robust.py grouped_less_cumsum — the q104/q113/q114
    machinery; the oracle uses the plain rank()/count() windows the
    engine refuses to run), DOUBLED to stay integral: r2 = 2*less +
    ties + 1 = 2*avg_rank, and Pearson's rho is invariant under the
    per-variable scaling, so every per-group sum (sx, sxx, sxy, ...) is
    exact BIGINT arithmetic — order-independent across engines.  The
    single float expression (one division, one IEEE-exact sqrt) is
    written with identical operand order in both engines and rounded
    once; single-value groups emit NULL (zero variance).

    Scale shape: two rank tables each built with parallelism ~ groups x
    buckets (no per-group sort), two (grp, value)-keyed hydration joins,
    one integer aggregation.  BIGINT products stay exact to n ~ 1.3e6
    rows/group; the double cast (correctly rounded, identical both
    engines) keeps parity beyond that."""
    from cosmo_spark.operators.robust import grouped_less_cumsum

    f = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & F.col("o_orderdate").isNotNull()
    ).select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("x"),
        F.unix_timestamp("o_orderdate").alias("y"),
    )

    def r2(val):
        lc = grouped_less_cumsum(f, "grp", val)
        cnt = f.groupBy("grp", val).agg(F.count(F.lit(1)).alias("__cnt"))
        return lc.join(cnt, ["grp", val]).select(
            "grp", val,
            (2 * F.col("less") + F.col("__cnt") + 1).alias(f"r2{val}"),
        )

    rows = (
        f.join(r2("x"), ["grp", "x"])
        .join(r2("y"), ["grp", "y"])
        .select("grp", "r2x", "r2y")
    )
    s = rows.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r2x").alias("sx"), F.sum("r2y").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
        F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return s.select(
        "grp", "n",
        F.when(
            (vx > 0) & (vy > 0), F.round(num / F.sqrt(vx * vy), 6)
        ).alias("spearman_rho"),
    )


_Q123_ORACLE = """
WITH f AS (
  SELECT l_returnflag AS flag, l_discount AS d,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_discount IS NOT NULL
        AND l_quantity IS NOT NULL AND l_quantity > 0
), vb AS (
  SELECT flag, d, CAST(sum(q) AS BIGINT) AS c FROM f GROUP BY flag, d
), cum AS (
  SELECT flag, d, c,
         CAST(sum(c) OVER (PARTITION BY flag ORDER BY d) AS BIGINT) AS cw,
         CAST(sum(c) OVER (PARTITION BY flag) AS BIGINT) AS w
  FROM vb
)
SELECT flag, w AS total_weight, min(d) AS wmedian
FROM cum WHERE cw >= (w + 1) // 2
GROUP BY flag, w
"""


@register("q123_weighted_median", operators=("A6", "A11"), oracle=_Q123_ORACLE)
def q123_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted (lower) median discount per return flag — the
    weighted-quantile operator (every unit of quantity votes, not every
    row): the smallest discount whose cumulative weight reaches
    ceil(W/2).

    The engine side exercises grouped_less_cumsum's WEIGHT path
    (operators/robust.py — the same two-layer bucket decomposition as
    q104, aggregating sum(weight) instead of row counts): per
    (flag, discount) it yields the weight strictly below; adding the
    value's own weight (one per-(flag, value) aggregate) and taking the
    minimum qualifying value is pure integer arithmetic — the oracle's
    cumulative window over the value table states the same thing.
    No per-group sort of facts anywhere; weights are exact BIGINTs
    (quantities are integral by data contract, CAST both engines)."""
    from cosmo_spark.operators.robust import grouped_less_cumsum

    f = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_discount").isNotNull()
        & F.col("l_quantity").isNotNull()
        & (F.col("l_quantity") > 0)
    ).select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_discount").alias("d"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    lc = grouped_less_cumsum(f, "flag", "d", weight="q")
    cv = f.groupBy("flag", "d").agg(F.sum("q").alias("c"))
    m = (F.col("grp_total") + 1) - ((F.col("grp_total") + 1) % 2)  # 2*ceil(W/2)
    qual = (
        lc.join(cv, ["flag", "d"])
        .filter(2 * (F.col("less") + F.col("c")) >= m)
    )
    return qual.groupBy("flag", F.col("grp_total").alias("total_weight")).agg(
        F.min("d").alias("wmedian")
    )


_Q127_ORACLE = """
WITH ev AS (
  SELECT event_id, event_type || '|' || CAST(hour(ts) AS VARCHAR) AS k,
         event_type, hour(ts) AS hod, value
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
), ranked AS (
  SELECT k, event_id, value,
         row_number() OVER (PARTITION BY k ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY k) AS n
  FROM ev
), med AS (
  SELECT k, sum(value) / count(*) AS median
  FROM ranked WHERE rn = (n + 1) / 2 OR rn = n / 2 OR rn = n / 2 + 1
  GROUP BY k
), dev AS (
  SELECT e.k, e.event_id, abs(e.value - m.median) AS adev
  FROM ev e JOIN med m USING (k)
), rdev AS (
  SELECT k, adev,
         row_number() OVER (PARTITION BY k ORDER BY adev, event_id) AS rn,
         count(*) OVER (PARTITION BY k) AS n
  FROM dev
), mad AS (
  SELECT k, sum(adev) / count(*) AS mad
  FROM rdev WHERE rn = (n + 1) / 2 OR rn = n / 2 OR rn = n / 2 + 1
  GROUP BY k
), stats AS (
  SELECT k, min(event_type) AS event_type, min(hod) AS hod,
         count(*) AS n FROM ev GROUP BY k
), anom AS (
  SELECT e.k, count(*) AS n_anomalies
  FROM ev e JOIN med USING (k) JOIN mad USING (k)
  WHERE 0.6745 * abs(e.value - med.median) > 3.5 * mad.mad
  GROUP BY e.k
)
SELECT s.event_type, s.hod AS hour_of_day, s.n,
       round(med.median, 6) AS median,
       round(mad.mad, 6) AS mad,
       coalesce(a.n_anomalies, 0) AS n_anomalies
FROM stats s
JOIN med ON med.k = s.k
JOIN mad ON mad.k = s.k
LEFT JOIN anom a ON a.k = s.k
"""


@register("q127_seasonal_anomaly", operators=("P3", "A7", "A13"),
          oracle=_Q127_ORACLE)
def q127_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly profile: robust median/MAD per
    (event_type, hour-of-day) cell, and how many events violate the
    modified-z rule AGAINST THEIR OWN HOUR's baseline — the
    periodic-key decomposition telemetry monitoring actually needs (a
    value normal at peak hour is anomalous at 4am; q102's one baseline
    per type cannot see that).

    Same determinism contract as q102: medians are exact middle-rank
    SELECTIONS (grouped_median_distributed — bucketed rank machinery,
    no per-group sort; 120 composite cells instead of 5 types makes the
    decomposition cheaper, not harder), the only float arithmetic is
    the shared (a+b)/2 middle average and the multiplication-only z
    rule, identical in the oracle.  Output is the 120-row cell profile,
    not per-row flags."""
    from cosmo_spark.operators.robust import grouped_median_distributed

    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        "event_id", "event_type", "value",
        F.hour("ts").alias("hod"),
        F.concat_ws("|", "event_type", F.hour("ts").cast("string")).alias("k"),
    )
    # ev feeds four consumers but is deliberately NOT persisted: the
    # branches see identical subplans, so ReusedExchange already shares
    # the scan (the q110 lesson — persisting measured 8.7 s vs 6.7 s at
    # sf0.1: InMemoryTableScan only added overhead)
    med = grouped_median_distributed(ev, "k", "value", "event_id",
                                     out_col="median").localCheckpoint()
    # the deviation table is materialised as robust_outliers does (r7
    # commit "Persist the deviation table ..."): without it the MAD pass
    # re-expands the entire median pipeline inside ITS bucket machinery
    # and the initial plan balloons to ~220 exchange nodes (ReusedExchange
    # hides most at runtime, but the anomaly join then re-expands it all
    # again).  Both tables are read by the returned frame, so they are
    # localCheckpointed, not pinned (5.7 s vs 9.1 s persisted, sf0.1, 4 cores)
    dev = ev.join(F.broadcast(med), "k").select(
        "k", "event_id",
        F.abs(F.col("value") - F.col("median")).alias("adev"),
    ).localCheckpoint()
    mad = grouped_median_distributed(dev, "k", "adev", "event_id",
                                     out_col="mad")
    stats = ev.groupBy("k").agg(
        F.min("event_type").alias("event_type"),
        F.min("hod").alias("hod"),
        F.count(F.lit(1)).alias("n"),
    )
    anom = (
        ev.join(F.broadcast(med), "k").join(F.broadcast(mad), "k")
        .filter(
            F.lit(0.6745) * F.abs(F.col("value") - F.col("median"))
            > F.lit(3.5) * F.col("mad")
        )
        .groupBy("k").agg(F.count(F.lit(1)).alias("n_anomalies"))
    )
    return (
        stats.join(med, "k").join(mad, "k").join(anom, "k", "left")
        .select(
            "event_type",
            F.col("hod").cast("long").alias("hour_of_day"),
            "n",
            F.round("median", 6).alias("median"),
            F.round("mad", 6).alias("mad"),
            F.coalesce(F.col("n_anomalies"), F.lit(0)).alias("n_anomalies"),
        )
    )


_Q133_K = 8

_Q133_ORACLE = f"""
WITH f AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment FROM customer
  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
), g AS (
  SELECT nation, segment, count(*) AS n FROM f GROUP BY nation, segment
)
SELECT
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(CASE WHEN n < {_Q133_K} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_violating_groups,
  CAST(sum(n) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN n < {_Q133_K} THEN n ELSE 0 END) AS BIGINT)
    AS n_rows_at_risk,
  CAST(min(n) AS BIGINT) AS min_group,
  round(100.0 * sum(CASE WHEN n < {_Q133_K} THEN n ELSE 0 END) / sum(n), 6)
    AS pct_at_risk
FROM g
"""


@register("q133_k_anonymity_audit", operators=("A11", "A4"),
          oracle=_Q133_ORACLE)
def q133_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment) quasi-identifier
    tuple: how many equivalence classes fall below k=8 members and what
    fraction of individuals sit in them — the privacy screen run before
    releasing or training on user-attributable records (Sweeney 2002),
    complementing q77's direct-identifier PII scan with the
    LINKAGE-risk dimension PII regexes cannot see.

    Pure aggregation: one map-side-combined (nation, segment) count —
    the audit table is |QI-combinations|-sized — then scalar rollups;
    integer everywhere, one percentage division rounded at output."""
    f = _t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isNotNull() & F.col("c_mktsegment").isNotNull()
    ).select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    )
    g = f.groupBy("nation", "segment").agg(F.count(F.lit(1)).alias("n"))
    viol = F.when(F.col("n") < _Q133_K, F.col("n")).otherwise(F.lit(0))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("n") < _Q133_K, 1).otherwise(0))
          .alias("n_violating_groups"),
        F.sum("n").alias("n_rows"),
        F.sum(viol).alias("n_rows_at_risk"),
        F.min("n").alias("min_group"),
        F.round(
            F.lit(100.0) * F.sum(viol) / F.sum("n"), 6
        ).alias("pct_at_risk"),
    )
