"""Embedding / similarity-search query catalog (training-data pipeline ops).

All vector math is zip_with/aggregate expressions over array<double> casts so
DuckDB list expressions reproduce it exactly (element-order summation on both
sides).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cosmo_spark.queries import register
from cosmo_spark.session import tune_session
from cosmo_spark.sources.tables import load_table
from cosmo_spark.functions.arrays import array_max, array_mean, array_std, rel_to_first
from cosmo_spark.functions.vectors import as_double
from cosmo_spark.operators.similarity import cosine_topk
from cosmo_spark.operators.dedup import embedding_near_dups, srp_lsh_near_dups


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    return load_table(spark, sf_dir, name)


@register(
    "q30_array_stats",
    operators=("A10",),
    oracle="""
SELECT vec_id,
       len(embedding) AS dim,
       round(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6) AS vec_mean,
       round(sqrt(greatest(
               (list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))
                - list_sum(CAST(embedding AS DOUBLE[]))
                  * list_sum(CAST(embedding AS DOUBLE[])) / len(embedding))
               / (len(embedding) - 1), 0.0)), 6) AS vec_std,
       round(list_max(CAST(embedding AS DOUBLE[])), 6) AS vec_max
FROM embeddings
""",
)
def q30_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row array statistics via higher-order functions — the jitter
    ``reduce_to_stat`` pattern (ref: cosmo/filesystem.py:255-278) with no
    explode/regroup shuffle and no UDF."""
    e = _t(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    return e.select(
        "vec_id",
        F.size(v).cast("long").alias("dim"),
        F.round(array_mean(v), 6).alias("vec_mean"),
        F.round(array_std(v), 6).alias("vec_std"),
        F.round(array_max(v), 6).alias("vec_max"),
    )


@register(
    "q31_array_projections",
    operators=("P12", "P13", "P8"),
    oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT vec_id,
       round(e[1], 6)                           AS first_el,
       round(e[len(e)], 6)                      AS last_el,
       round(list_sum(list_transform(e[2:], x -> x - e[1])), 6) AS rel_sum,
       len(list_filter(e, x -> x > 0))          AS n_positive
FROM v
""",
)
def q31_array_projections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-element and relative-array projections (ref: XC_RANGE[0] unpack,
    cosmo/monitors/osm_shift_monitors.py:626-627; REL_SHIFT = SHIFT[1:] -
    SHIFT[0], cosmo/monitors/osm_drift_monitors.py:21-40)."""
    e = _t(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    rel = rel_to_first(v)
    return e.select(
        "vec_id",
        F.round(F.element_at(v, 1), 6).alias("first_el"),
        F.round(F.element_at(v, -1), 6).alias("last_el"),
        F.round(F.aggregate(rel, F.lit(0.0), lambda a, x: a + x), 6).alias("rel_sum"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_positive"),
    )


@register(
    "q32_cosine_topk",
    operators=("SIM1",),
    oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id < 8),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(list_zip(q.e, c.e), p -> p[1] * p[2]))
           / (sqrt(list_sum(list_transform(q.e, x -> x * x)))
              * sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS sim
  FROM q CROSS JOIN v c WHERE q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
""",
)
def q32_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k — the ANN baseline.  Query set is
    broadcast; corpus scan stays shuffle-free until the final tiny top-k
    window.  The bucketed scale path is operators.similarity.ivf_cosine_topk."""
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    out = cosine_topk(e, queries, "embedding", "vec_id", k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


#: q33's oracle, shared with q125's composite-evidence oracle (textops)
EMB_NEARDUP_SQL = """
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))
           / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
              * sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS sim
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(sim, 6) AS cos_sim
FROM pairs WHERE sim >= 0.90
"""


@register(
    "q33_embedding_near_dup",
    operators=("DD5",),
    oracle=EMB_NEARDUP_SQL,
)
def q33_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection, blocked by label — the
    blocking key stands in for an LSH bucket: the quadratic join only runs
    within blocks (the 100 TB pattern).  ``max_block=256`` is the round-12
    hot-block guard (r11 verdict #1): a label that runs hot is salted into
    ceil(n/256) sub-blocks and the join fans out over triangular sub-block
    pairs — per-task work bounded at ~256², output exactly unchanged (the
    10× certification measured this operator at 17.3×, the catalog's
    worst, when the whole block landed in one reducer)."""
    e = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dups(
        e, "embedding", "vec_id", threshold=0.90, block_col="label", dim=64,
        max_block=256,
    )
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


@register(
    "q162_blocked_neardup_salted",
    operators=("DD5",),
    oracle=EMB_NEARDUP_SQL,
)
def q162_blocked_neardup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q33 operator with the hot-block guard FORCED ON at parity scale
    (``max_block=16`` — every sf0.01 label block of ~50 rows salts into
    s = ceil(n/16) sub-blocks, triangular fan-out engaged): hash-matched
    against the SAME exact all-pairs-within-block oracle as q33, proving
    the salted plan is a parallelism rewrite, not an approximation.  The
    production default (q33, max_block=256) only engages on genuinely hot
    blocks."""
    e = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dups(
        e, "embedding", "vec_id", threshold=0.90, block_col="label", dim=64,
        max_block=16,
    )
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


# --------------------------------------------------------------------------- #
# q55 — random-hyperplane (SRP) LSH near-dup: content-based blocking          #
# --------------------------------------------------------------------------- #

_SRP_BANDS = 8
_SRP_BITS = 16  # 2^16 codes/band: a random pair collides at ~0.5^16 per band,
                # so candidate volume stays ~1e-4 of all pairs at any corpus
                # size; a cos-0.95 pair still bands together with p≈0.80.
                # Few-bit bands (the old 4×6) bound the number of buckets,
                # not their size — a quadratic trap at 100 TB.


def _srp_planes(
    n_planes: int = _SRP_BANDS * _SRP_BITS, dim: int = 64
) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from a fixed LCG — a literal artifact
    shared verbatim with the oracle, like the q44 centroids."""
    x, out = 12345, []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (1103515245 * x + 12345) % (1 << 31)
            row.append(1 if (x >> 16) & 1 else -1)
        out.append(row)
    return out


def _planes_sql() -> str:
    """The plane matrix as one DuckDB nested-list literal — the same single
    artifact the Spark side ships as a nested array literal."""
    return "[" + ", ".join(
        "[" + ", ".join(f"{float(v):.1f}" for v in p) + "]"
        for p in _srp_planes()
    ) + "]"


def _band_code_sql(band: int) -> str:
    return " + ".join(
        f"bits[{band * _SRP_BITS + j + 1}] * {1 << (_SRP_BITS - 1 - j)}"
        for j in range(_SRP_BITS)
    )


_Q55_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), sig AS (
  SELECT vec_id, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
         list_transform({_planes_sql()},
           p -> CASE WHEN list_sum(list_transform(list_zip(e, p),
                          z -> z[1] * z[2])) > 0 THEN 1 ELSE 0 END) AS bits
  FROM v
), banded AS (
  SELECT vec_id, e, nrm, band,
         CASE {" ".join(f"WHEN band = {b} THEN {_band_code_sql(b)}" for b in range(_SRP_BANDS))} END AS code
  FROM sig, (SELECT unnest(range({_SRP_BANDS})) AS band)
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(list_zip(a.e, b.e), z -> z[1] * z[2]))
           / (a.nrm * b.nrm) AS sim
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(max(sim), 6) AS cos_sim
FROM pairs WHERE sim >= 0.40 GROUP BY id_a, id_b
"""


@register("q55_srp_lsh_near_dup", operators=("DD5", "DD2"), oracle=_Q55_ORACLE)
def q55_srp_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicates via signed-random-projection LSH — the
    content-based blocking that replaces q33's label blocking at 100 TB:
    128 literal ±1 hyperplanes give each vector a 128-bit signature split
    into 8 bands of 16 bits (operators.dedup.srp_lsh_near_dups — geometry,
    bucket-size guard, and scale notes live there); only vectors agreeing
    on a whole band code ever meet in the join, and the exact cosine
    verifies candidates.  At a realistic dup threshold (cos 0.95) band
    recall is ~0.80; the synthetic corpus tops out at cos ~0.51, so the
    demonstration threshold is 0.40 — the pipeline (and its oracle) is
    threshold- and geometry-agnostic.

    max_bucket=10_000 arms the loud degenerate-corpus guard — far above any
    bucket this corpus can produce, tripped only by pathological mass
    collisions (tests/test_operators.py exercises the trip).
    """
    e = _t(spark, sf_dir, "embeddings")
    out = srp_lsh_near_dups(
        e, "embedding", "vec_id", _srp_planes(),
        bands=_SRP_BANDS, bits_per_band=_SRP_BITS,
        threshold=0.40, max_bucket=10_000,
    )
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


# --------------------------------------------------------------------------- #
# q61 — int8 embedding quantization (storage path for vector pipelines)       #
# --------------------------------------------------------------------------- #

@register(
    "q61_int8_quantize",
    operators=("A10", "P11"),
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
  FROM v
), q AS (
  SELECT vec_id, e, scale,
         CASE WHEN scale > 0 THEN
           list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
         ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS qv
  FROM s
)
SELECT vec_id,
       round(scale, 9) AS scale,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(qv, x -> x + 128)),
         (a, b) -> (a * 31 + b) % 1000000007) AS qhash,
       round(CASE WHEN scale > 0 THEN
         list_max(list_transform(list_zip(qv, e),
                                 p -> abs(p[1] * scale - p[2])))
       ELSE 0.0 END, 9) AS max_abs_err
FROM q
""",
)
def q61_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the standard
    storage/bandwidth path for vector corpora (4x smaller at rest, int8
    SIMD dot products downstream): per-vector scale = max|x|/127, code =
    floor(x/scale + 0.5) (explicit half-up so Spark and DuckDB agree —
    their round() builtins disagree on tie handling), and the max absolute
    reconstruction error as the quality bound.

    The quantized array itself is parity-checked via the deterministic
    polynomial fold of its (code+128) values — same discipline as the
    dedup hashes: the compare never ships arrays, just one BIGINT.

    Scale shape: pure per-row higher-order expressions — no shuffle, no
    UDF, whole-stage codegen; at 100 TB this is a map-only rewrite job
    bounded by parquet read/write bandwidth.
    """
    e = _t(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    scale = array_max(F.transform(v, F.abs)) / 127.0
    base = e.select("vec_id", v.alias("e"), scale.alias("scale"))
    qv = F.when(
        F.col("scale") > 0,
        F.transform("e", lambda x: F.floor(x / F.col("scale") + 0.5)),
    ).otherwise(F.transform("e", lambda x: F.lit(0).cast("long")))
    q = base.withColumn("qv", qv)
    qhash = F.aggregate(
        F.transform("qv", lambda x: x + 128),
        F.lit(0).cast("long"),
        lambda a, b: (a * 31 + b) % 1000000007,
    )
    err = F.when(
        F.col("scale") > 0,
        array_max(
            F.zip_with("qv", "e", lambda q_, x: F.abs(q_ * F.col("scale") - x))
        ),
    ).otherwise(F.lit(0.0))
    # err must bind to the RAW scale: computed in its own projection, because
    # in a combined select the lateral-column-alias rule would resolve its
    # `scale` reference to the rounded output alias (a 1e-8 parity drift)
    q = q.withColumn("__err", err)
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        qhash.alias("qhash"),
        F.round("__err", 9).alias("max_abs_err"),
    )


# --------------------------------------------------------------------------- #
# q68 — per-class centroid outliers (embedding-space label-noise detection)    #
# --------------------------------------------------------------------------- #

@register(
    "q68_centroid_outliers",
    operators=("SIM1", "A2", "J2"),
    oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT label, i AS pos, v[i] AS x
       FROM e, unnest(range(1, len(v) + 1)) AS r(i)),
cent AS (SELECT label, pos, avg(x) AS c FROM ex GROUP BY label, pos),
carr AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
d AS (
  SELECT vec_id, e.label AS label,
         1.0 - list_sum(list_transform(list_zip(e.v, carr.cv), p -> p[1] * p[2]))
           / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
              * sqrt(list_sum(list_transform(carr.cv, x -> x * x)))) AS dist
  FROM e JOIN carr ON e.label = carr.label
),
s AS (SELECT label, avg(dist) AS mu, stddev_samp(dist) AS sd FROM d GROUP BY label)
SELECT vec_id, d.label AS label, round(dist, 6) AS dist,
       round((dist - mu) / sd, 6) AS z
FROM d JOIN s ON d.label = s.label
WHERE sd > 0 AND (dist - mu) / sd > 2.0
""",
)
def q68_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class centroid outliers — flag vectors whose cosine distance to
    their OWN label's mean embedding is > 2 sigma for that label: the
    standard embedding-space screen for label noise / corrupt encodes
    before a corpus ships to training (the "remove examples far from their
    class centroid" step of dataset-pruning pipelines).

    Scale shape, in three bounded stages: (1) centroids via posexplode ->
    groupBy (label, dim) — the shuffle after map-side partial aggregation
    carries labels x dims rows (tiny), never the corpus; the per-label
    centroid ARRAY is reassembled from that aggregate and broadcast, so
    per-row cosine distance is codegen HOF math with no second corpus
    shuffle.  (2) per-label mu/sigma of the distance reduce the corpus
    again by partial aggregation to one row per label, broadcast back.
    (3) the z-filter is a map-side predicate.  The distance table (3
    numeric cols) is localCheckpointed for its two consumers (stats +
    final filter) so the cosine HOF fold runs once per vector — at 100 TB
    you would swap it for a checkpoint-to-parquet of the same 3-column
    frame; nothing else changes.
    """
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    ex = e.select("label", F.posexplode("v").alias("pos", "x"))
    cent = ex.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    carr = cent.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc")
    ).select("label", F.transform("pc", lambda s: s["c"]).alias("cv"))
    from cosmo_spark.functions.vectors import cosine_sim

    d = (
        e.join(F.broadcast(carr), "label")
        .select(
            "vec_id", "label",
            (F.lit(1.0) - cosine_sim("v", "cv")).alias("dist"),
        )
        .localCheckpoint()
    )
    stats = d.groupBy("label").agg(
        F.avg("dist").alias("mu"), F.stddev_samp("dist").alias("sd")
    )
    z = (F.col("dist") - F.col("mu")) / F.col("sd")
    return (
        d.join(F.broadcast(stats), "label")
        .filter((F.col("sd") > 0) & (z > 2.0))
        .select(
            "vec_id",
            "label",
            F.round("dist", 6).alias("dist"),
            F.round(z, 6).alias("z"),
        )
    )


# --------------------------------------------------------------------------- #
# q122 — hybrid retrieval: reciprocal-rank fusion of lexical + embedding lists #
# --------------------------------------------------------------------------- #

_Q122_K = 10      # depth of each retrieval list
_Q122_C = 60      # RRF constant (Cormack/Clarke/Buettcher 2009)
_Q122_NQ = 4      # probe queries: doc/vec ids < 4 (aligned tables)

_Q122_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id < {_Q122_NQ}),
epairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(list_zip(q.e, c.e), p -> p[1] * p[2]))
           / (sqrt(list_sum(list_transform(q.e, x -> x * x)))
              * sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS sim
  FROM q CROSS JOIN v c WHERE q.vec_id <> c.vec_id
), em AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rank
    FROM epairs) t WHERE rank <= {_Q122_K}
), tl AS (
  SELECT doc_id, u.w AS w
  FROM (SELECT doc_id,
               list_distinct(list_filter(
                 string_split_regex(lower(text), '[^a-z0-9]+'),
                 t -> t <> '')) AS toks
        FROM documents WHERE text IS NOT NULL) d,
       unnest(d.toks) AS u(w)
), dfq AS (SELECT w, count(*) AS df FROM tl GROUP BY w),
probe AS (SELECT doc_id AS query_id, w FROM tl WHERE doc_id < {_Q122_NQ}),
lpair AS (
  SELECT p.query_id, t.doc_id AS neighbor_id,
         CAST(sum(1000000 // d.df) AS BIGINT) AS score
  FROM probe p
  JOIN tl t ON t.w = p.w AND t.doc_id <> p.query_id
  JOIN dfq d ON d.w = p.w
  GROUP BY p.query_id, t.doc_id
), le AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM lpair) t WHERE rank <= {_Q122_K}
), fused AS (
  SELECT coalesce(le.query_id, em.query_id) AS query_id,
         coalesce(le.neighbor_id, em.neighbor_id) AS neighbor_id,
         le.rank AS r_lex, em.rank AS r_emb,
         coalesce(1.0 / ({_Q122_C} + le.rank), 0.0)
           + coalesce(1.0 / ({_Q122_C} + em.rank), 0.0) AS rrf
  FROM le FULL OUTER JOIN em
    ON le.query_id = em.query_id AND le.neighbor_id = em.neighbor_id
)
SELECT query_id, neighbor_id, r_lex, r_emb, round(rrf, 6) AS rrf_score,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY rrf DESC, neighbor_id) AS fused_rank
FROM fused
"""


@register("q122_hybrid_rrf_search", operators=("SIM1", "J1", "A11"),
          oracle=_Q122_ORACLE)
def q122_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack, Clarke &
    Buettcher 2009 — the fusion rule behind today's hybrid RAG search):
    for each probe document, an EMBEDDING list (exact cosine top-10, the
    q32 two-phase machinery) and a LEXICAL list (idf-weighted distinct-
    token overlap) are merged by rrf = sum 1/(60 + rank) — rank fusion
    needs no score calibration between the two modalities, which is why
    it wins in practice.

    Determinism discipline: the lexical score sums INTEGER idf weights
    (1000000 div df — integer division in both engines), so per-pair
    accumulation is order-independent; cosine sims are the certified
    q32 element-order expressions; the RRF score is one fixed-shape
    float expression over small-integer ranks; every ranking window
    carries the neighbor-id tiebreak.

    Scale shape: probes broadcast against the corpus on both paths
    (corpus never shuffles for the embedding list; the lexical path is
    one postings join bounded by probe vocabulary, df table broadcast —
    the q85 shape); both per-query rankings go through the two-phase
    top-k (never one reducer per query over the corpus); the fusion
    join and final window act on <= 2k rows per query."""
    from cosmo_spark.operators.similarity import _grouped_topk

    e = _t(spark, sf_dir, "embeddings")
    emb = cosine_topk(
        e, e.filter(F.col("vec_id") < _Q122_NQ), "embedding", "vec_id",
        k=_Q122_K,
    ).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("r_emb")
    )

    from cosmo_spark.functions.text import tokenize

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tl = d.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("w"),
    )
    probe = tl.filter(F.col("doc_id") < _Q122_NQ).select(
        F.col("doc_id").alias("query_id"), "w"
    )
    # probe vocabulary broadcast FIRST (q85's IN-list shape): the corpus
    # postings are filtered map-side to probe terms before any counting,
    # so the df table is probe-vocab-sized — broadcasting the FULL
    # vocabulary df table (the first cut) is the q69 anti-pattern at
    # 100 TB; df values are unchanged (per-term counts are within-term)
    pv = probe.select("w").distinct()
    tl_f = tl.join(F.broadcast(pv), "w", "left_semi")
    dfq = tl_f.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    lpair = (
        probe.join(
            tl_f.select(F.col("doc_id").alias("neighbor_id"), "w"), "w"
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(dfq), "w")
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.expr("1000000 div df")).alias("score"))
    )
    le = _grouped_topk(
        lpair.select(
            "query_id", "neighbor_id",
            F.col("score").cast("double").alias("cos_sim"),
        ),
        _Q122_K,
    ).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("r_lex")
    )

    fused = le.join(emb, ["query_id", "neighbor_id"], "full").select(
        "query_id", "neighbor_id", "r_lex", "r_emb",
        (
            F.coalesce(1.0 / (F.lit(_Q122_C) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_Q122_C) + F.col("r_emb")), F.lit(0.0))
        ).alias("rrf"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf"), F.asc("neighbor_id")
    )
    return fused.select(
        "query_id", "neighbor_id", "r_lex", "r_emb",
        F.round("rrf", 6).alias("rrf_score"),
        F.row_number().over(w).cast("long").alias("fused_rank"),
    )


# --------------------------------------------------------------------------- #
# q140/q141/q142 — perceptual-hash dedup over REAL media codec roundtrips      #
# --------------------------------------------------------------------------- #
#
# The multimodal pattern, end-to-end and oracle-gated across all three
# modalities: vectors render to binary media blobs JVM-side
# (sources/multimodal.encode_*), the REAL stdlib decoders (decode_media —
# Arrow-batched mapInPandas, the one sanctioned Python hot path) recover
# the 64-byte feature vector (8x8 luma thumbnail / amplitude envelope),
# and the shared aHash machinery (operators/phash) fingerprints and
# band-joins for perceptual near-duplicates.  Each DuckDB oracle computes
# the SAME fingerprints directly from the source vectors without ever
# touching a codec — so value-hash parity simultaneously proves (a) every
# encode→decode roundtrip is byte-lossless and (b) the dedup math (mean
# threshold, bit packing, 4×16-bit band pigeonhole, Hamming) is
# engine-identical.

#: the shared integer pixel-quantization rule (clamp(floor((x+0.5)*256)))
_PX_QUANT = "least(255, greatest(0, CAST(floor((x + 0.5) * 256) AS BIGINT)))"


def _ahash_profile_sql(px_cte: str) -> str:
    """Oracle tail shared by the aHash family: given a CTE chain ending in
    ``px(vec_id, p)`` (64 BIGINT feature bytes), emit the fingerprint /
    band / Hamming profile — the SQL twin of operators/phash."""
    hi = " + ".join(
        f"(CASE WHEN p[{i + 1}] > mean THEN {1 << i} ELSE 0 END)"
        for i in range(32)
    )
    lo = " + ".join(
        f"(CASE WHEN p[{i + 33}] > mean THEN {1 << i} ELSE 0 END)"
        for i in range(32)
    )
    return f"""
WITH {px_cte}, st AS (
  SELECT vec_id, p,
         CAST(floor(list_sum(p) / 64.0) AS BIGINT) AS mean
  FROM px
), fp AS (
  SELECT vec_id, CAST({hi} AS BIGINT) AS fp_hi, CAST({lo} AS BIGINT) AS fp_lo
  FROM st
), bands AS (
  SELECT vec_id, 0 AS bi, fp_hi % 65536 AS bv FROM fp
  UNION ALL SELECT vec_id, 1, fp_hi // 65536 FROM fp
  UNION ALL SELECT vec_id, 2, fp_lo % 65536 FROM fp
  UNION ALL SELECT vec_id, 3, fp_lo // 65536 FROM fp
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.bi = b.bi AND a.bv = b.bv AND a.vec_id <> b.vec_id
), ham AS (
  SELECT c.id_a,
         bit_count(xor(fa.fp_hi, fb.fp_hi))
           + bit_count(xor(fa.fp_lo, fb.fp_lo)) AS h
  FROM cand c
  JOIN fp fa ON fa.vec_id = c.id_a
  JOIN fp fb ON fb.vec_id = c.id_b
), agg AS (
  SELECT id_a, CAST(count(*) AS BIGINT) AS n_band_partners,
         CAST(min(h) AS BIGINT) AS min_hamming
  FROM ham GROUP BY id_a
)
SELECT f.vec_id, f.fp_hi, f.fp_lo,
       coalesce(a.n_band_partners, 0) AS n_band_partners, a.min_hamming
FROM fp f LEFT JOIN agg a ON a.id_a = f.vec_id
"""


_Q140_PX = f"""v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
), px AS (
  SELECT vec_id, list_transform(e, x -> {_PX_QUANT}) AS p FROM v
)"""

#: audio envelope: the WAV decoder maps each 8-bit sample q to
#: min(255, |q − 128| · 255 // 127) — the same rule, from the source side
_Q141_PX = f"""v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
), px AS (
  SELECT vec_id,
         list_transform(e, x -> least(255,
             (abs({_PX_QUANT} - 128) * 255) // 127)) AS p
  FROM v
)"""


def _media_fps(
    spark: SparkSession, sf_dir: str, encode_fn, codec: str
) -> DataFrame:
    """(vec_id, fp_hi, fp_lo) through the AT-REST fingerprint store
    (sources/media_fps, round-9 #4): blobs whose content hash is already
    stored skip the Python decode entirely — a warm run over an unchanged
    corpus performs zero decode work (counter-gated), and the store's
    localCheckpoint materializes the one decode pass eagerly, so the
    returned 16-byte-per-row frame needs no persist/unpersist lifecycle
    (closing the r8 cache-leak advice for good)."""
    from cosmo_spark.sources.media_fps import (
        fingerprint_media_cached,
        media_fp_store_dir,
    )

    e = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    media = encode_fn(e, "embedding", "vec_id")
    store = media_fp_store_dir(spark, sf_dir, codec)
    return fingerprint_media_cached(media, codec, store).select(
        F.col("media_id").cast("long").alias("vec_id"), "fp_hi", "fp_lo"
    )


def _media_profile(
    spark: SparkSession, sf_dir: str, encode_fn, codec: str
) -> DataFrame:
    from cosmo_spark.operators.phash import ahash_band_profile

    return ahash_band_profile(
        _media_fps(spark, sf_dir, encode_fn, codec), "vec_id"
    )


@register("q140_image_ahash_dedup", operators=("MM1", "DD3", "A11"),
          oracle=_ahash_profile_sql(_Q140_PX))
def q140_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (aHash) IMAGE near-dup profile over a real codec
    roundtrip: vectors → binary PGM blobs (JVM-side) → stdlib pixel
    decoder → 8×8 luma thumbnail → 64-bit fingerprint → 4×16-bit band
    join (pigeonhole: every pair at Hamming ≤ 3 collides in ≥ 1 band) →
    Hamming verify on candidates only.

    Scale shape: encode and decode are row-local (at most one
    Arrow-batched Python stage — blobs never shuffle); fingerprints are
    16 bytes/image and live AT REST (sources/media_fps) keyed by blob
    content hash, so a warm run skips straight to the band join with
    zero decode work; the band join is ≈ n²/65536 per band, not n²."""
    from cosmo_spark.sources.multimodal import encode_pgm_gray8x8

    return _media_profile(spark, sf_dir, encode_pgm_gray8x8, "ppm")


@register("q141_audio_envelope_dedup", operators=("MM1", "DD3", "A11"),
          oracle=_ahash_profile_sql(_Q141_PX))
def q141_audio_envelope_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-dup profile through the real stdlib WAV decoder:
    vectors → 8-bit PCM WAV blobs (constant 44-byte RIFF header + sample
    bytes, built JVM-side) → ``wave``-module decode → 64-bin |amplitude|
    envelope → the shared aHash fingerprint/band/Hamming profile.  The
    oracle derives the envelope directly from the source vectors
    (|q−128|·255//127, all integer), so parity proves the PCM roundtrip
    AND the envelope math end-to-end — the audio twin of q140."""
    from cosmo_spark.sources.multimodal import encode_wav_pcm8

    return _media_profile(spark, sf_dir, encode_wav_pcm8, "wav")


@register("q142_video_frame_dedup", operators=("MM1", "DD3", "A11"),
          oracle=_ahash_profile_sql(_Q140_PX))
def q142_video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-dup profile through the real YUV4MPEG2 parser: vectors
    → single-frame Y4M blobs (stream header + FRAME marker + luma plane,
    built JVM-side) → first-frame luma thumbnail → the shared aHash
    profile.  The Y luma plane IS the PGM pixel space, so the oracle is
    q140's verbatim — one fingerprint definition across image and video,
    which is exactly how cross-modal frame dedup works in production
    (video frames dedup against an image corpus)."""
    from cosmo_spark.sources.multimodal import encode_y4m_gray8x8

    return _media_profile(spark, sf_dir, encode_y4m_gray8x8, "y4m")


def _ahash_incremental_sql(px_cte: str) -> str:
    """Oracle for the batch-vs-corpus incremental profile: the same
    codec-free fingerprint pipeline, split by vec_id parity — EVEN ids
    are the at-rest corpus, ODD ids the incoming batch — then the
    cross-side band join / Hamming verify, profiling ONLY the batch."""
    hi = " + ".join(
        f"(CASE WHEN p[{i + 1}] > mean THEN {1 << i} ELSE 0 END)"
        for i in range(32)
    )
    lo = " + ".join(
        f"(CASE WHEN p[{i + 33}] > mean THEN {1 << i} ELSE 0 END)"
        for i in range(32)
    )
    return f"""
WITH {px_cte}, st AS (
  SELECT vec_id, p,
         CAST(floor(list_sum(p) / 64.0) AS BIGINT) AS mean
  FROM px
), fp AS (
  SELECT vec_id, CAST({hi} AS BIGINT) AS fp_hi, CAST({lo} AS BIGINT) AS fp_lo
  FROM st
), fpb AS (
  SELECT * FROM fp WHERE vec_id % 2 = 1
), fpc AS (
  SELECT * FROM fp WHERE vec_id % 2 = 0
), bb AS (
  SELECT vec_id, 0 AS bi, fp_hi % 65536 AS bv FROM fpb
  UNION ALL SELECT vec_id, 1, fp_hi // 65536 FROM fpb
  UNION ALL SELECT vec_id, 2, fp_lo % 65536 FROM fpb
  UNION ALL SELECT vec_id, 3, fp_lo // 65536 FROM fpb
), bc AS (
  SELECT vec_id, 0 AS bi, fp_hi % 65536 AS bv FROM fpc
  UNION ALL SELECT vec_id, 1, fp_hi // 65536 FROM fpc
  UNION ALL SELECT vec_id, 2, fp_lo % 65536 FROM fpc
  UNION ALL SELECT vec_id, 3, fp_lo // 65536 FROM fpc
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bb a JOIN bc b ON a.bi = b.bi AND a.bv = b.bv
), ham AS (
  SELECT c.id_a,
         bit_count(xor(fa.fp_hi, fb.fp_hi))
           + bit_count(xor(fa.fp_lo, fb.fp_lo)) AS h
  FROM cand c
  JOIN fpb fa ON fa.vec_id = c.id_a
  JOIN fpc fb ON fb.vec_id = c.id_b
), agg AS (
  SELECT id_a, CAST(count(*) AS BIGINT) AS n_corpus_partners,
         CAST(min(h) AS BIGINT) AS min_hamming
  FROM ham GROUP BY id_a
)
SELECT f.vec_id, f.fp_hi, f.fp_lo,
       coalesce(a.n_corpus_partners, 0) AS n_corpus_partners, a.min_hamming,
       coalesce(a.min_hamming, 64) <= 3 AS is_near_dup
FROM fpb f LEFT JOIN agg a ON a.id_a = f.vec_id
"""


@register("q145_incremental_media_dedup", operators=("MM1", "DD2", "ST3"),
          oracle=_ahash_incremental_sql(_Q140_PX))
def q145_incremental_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL media dedup — the q79 batch-vs-corpus shape for
    perceptual fingerprints (round-9 #4): even vec_ids are the at-rest
    media corpus, odd vec_ids the incoming batch.  Both sides resolve
    their fingerprints through the AT-REST store
    (sources/media_fps.fingerprint_media_cached) — after q140 has run,
    the corpus side performs ZERO decode work; only genuinely-new batch
    content ever reaches the Python stage.  The batch probes the corpus
    band table (4×16-bit pigeonhole) and Hamming-verifies candidates;
    every batch item reports its corpus-partner count, closest Hamming
    distance, and the is_near_dup <= 3 keep/drop verdict a streaming
    ingester acts on.

    Scale shape: the corpus is probed, never rescanned as output; at
    rest its band table lives bucketed by band value so only the batch
    side shuffles.  The oracle replays the whole split codec-free."""
    from cosmo_spark.operators.phash import ahash_cross_profile
    from cosmo_spark.sources.multimodal import encode_pgm_gray8x8

    # ONE store pass resolves every fingerprint (the frame is
    # checkpointed 24-byte rows), then the corpus/batch split is a
    # filter — resolving each side separately would scan the store and
    # re-derive the content hashes twice (measured 7.3 s -> shared pass)
    fp_all = _media_fps(spark, sf_dir, encode_pgm_gray8x8, "ppm")
    fp_corpus = fp_all.filter(F.col("vec_id") % 2 == 0)
    fp_batch = fp_all.filter(F.col("vec_id") % 2 == 1)
    return ahash_cross_profile(fp_batch, fp_corpus, "vec_id")



# --------------------------------------------------------------------------- #
# q150 — trained quality classifier: corpus scoring + calibration table        #
# --------------------------------------------------------------------------- #

#: fixed probability-band cutoffs in quantized-margin units: margin_q is in
#: (weight_quant * _Q150_XQ) = 1e12 units of the true logit, so the band
#: edges are logit(k/10) * 1e12 — integer constants shared verbatim by both
#: engines (band membership is a pure BIGINT comparison)
_Q150_CUTS = tuple(
    round(math.log((k / 10) / (1 - k / 10)) * 10**12) for k in range(1, 10)
)


def _q150_oracle() -> str:
    from cosmo_spark.queries.quality_artifacts import (
        get_quality_weights,
        margin_sql_duck,
    )

    dim, w = get_quality_weights()
    if dim == 0:
        return (
            "SELECT CAST(NULL AS INT) AS band, CAST(NULL AS BIGINT) AS n, "
            "CAST(NULL AS BIGINT) AS n_pos, CAST(NULL AS DOUBLE) AS pos_rate "
            "WHERE FALSE"
        )
    band = " + ".join(
        f"(CASE WHEN mq >= {c} THEN 1 ELSE 0 END)" for c in _Q150_CUTS
    )
    return f"""
WITH s0 AS (
  SELECT {margin_sql_duck(dim, w)} AS mq, label
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {dim}
),
s AS (SELECT {band} AS band, label FROM s0)
SELECT band,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       round(sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS pos_rate
FROM s GROUP BY band
"""


@register(
    "q150_quality_classifier",
    operators=("TXT2", "A11", "SIM2"),
    oracle=_q150_oracle,
)
def q150_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring — the FineWeb-Edu-class pipeline stage
    the heuristic scorers (q35/q99) cannot replace: a logistic-regression
    classifier TRAINED in-engine (operators/train.train_logreg, resolved
    through the queries/quality_artifacts seed cache) scores every
    embedding, and the output is the classifier's CALIBRATION table —
    per predicted-probability band (fixed logit cutoffs at 0.1..0.9),
    the row count and the observed positive rate of the training target
    (label >= 5).  A well-calibrated classifier shows pos_rate rising
    with the band; on THIS corpus the table is deliberately diagnostic —
    the driver-generated labels are linearly unpredictable from the
    embeddings (held-out AUC ~0.5), and the near-flat calibration is
    exactly how a real pipeline discovers that before acting on scores
    (the trainer's ability to learn a real signal is pinned by the
    planted-signal unit in tests/test_logreg.py).

    Scoring is integer-exact: weights are 1e6-quantized ints (the trainer
    contract), coordinates quantize to floor(x * 1e6), and the margin is
    a pure-BIGINT dot product — both engines compute bit-identical bands,
    no float summation order anywhere.

    Scale shape: scoring is a map-only expression (zip_with over a
    broadcast weight literal — no join, no shuffle), and the calibration
    aggregate partial-combines into at most 10 groups.  Training cost is
    bounded by the artifact cache: a known corpus resolves from the seed,
    a new corpus pays n_iter linear scans once.
    """
    from cosmo_spark.queries.quality_artifacts import resolve_quality_weights

    dim, w = resolve_quality_weights(spark, sf_dir)
    e = _t(spark, sf_dir, "embeddings")
    if dim == 0:
        return e.sparkSession.createDataFrame(
            [], "band int, n long, n_pos long, pos_rate double"
        )
    from cosmo_spark.queries.quality_artifacts import margin_expr_spark

    mq = margin_expr_spark(dim, w)
    band = " + ".join(
        f"(CASE WHEN mq >= {c}L THEN 1 ELSE 0 END)" for c in _Q150_CUTS
    )
    scored = (
        e.filter(
            F.col("embedding").isNotNull() & (F.size("embedding") == dim)
        )
        .select(F.expr(mq).alias("mq"), "label")
        .select(F.expr(band).alias("band"), "label")
    )
    pos = F.sum(F.when(F.col("label") >= 5, 1).otherwise(0))
    return scored.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        pos.cast("long").alias("n_pos"),
        F.round(pos / F.count(F.lit(1)).cast("double"), 6).alias("pos_rate"),
    )
