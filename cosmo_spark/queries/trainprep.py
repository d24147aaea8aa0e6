"""Training-data preparation catalog, part 2 (q75–q80).

Corpus-curation operators beyond the reference's surface: semantic
(cluster-blocked) dedup, tokenizer-training pair counts, policy/PII
pattern scanning, multi-grain rollup cascades, incremental dedup of an
ingest batch against a stored corpus, and curriculum decile bucketing.
Same discipline as the rest of the catalog: deterministic arithmetic
only, so every query carries a bit-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cosmo_spark.queries import register
from cosmo_spark.session import persisted, tune_session
from cosmo_spark.sources.tables import load_table
from cosmo_spark.functions.text import poly_hash, tokenize
from cosmo_spark.queries.artifacts import resolve_vector_artifacts
from cosmo_spark.queries.misc import _ivf_centroids_duckdb, _ivf_centroids_spark
from cosmo_spark.queries.textops import _DUCK_POLY, _DUCK_TOKS


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------- #
# q75 — SemDedup: cluster-blocked semantic near-duplicate pruning              #
# --------------------------------------------------------------------------- #

_SEMDEDUP_TAU = 0.35

_Q75_TEMPLATE = """
WITH cents AS (
  SELECT * FROM (VALUES {cents}) c(bucket, centroid)
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
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CASE WHEN a.n * b.n > 0 THEN
           list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))
             / (a.n * b.n) END AS sim
  FROM assigned a JOIN assigned b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_b AS vec_id, CAST(count(*) AS BIGINT) AS n_dups,
       round(max(sim), 6) AS max_sim
FROM pairs WHERE sim >= {tau} GROUP BY id_b
"""


def _q75_oracle() -> str:
    return _Q75_TEMPLATE.format(
        cents=_ivf_centroids_duckdb(), tau=_SEMDEDUP_TAU
    )


@register("q75_semantic_dedup", operators=("DD5", "SIM2"), oracle=_q75_oracle)
def q75_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style semantic deduplication: assign every embedding to its
    nearest k-means centroid (the q44 coarse quantizer, a literal artifact),
    then search for near-duplicates ONLY within a cluster — the
    cluster-blocked prune of Abbas et al.'s SemDedup, where the quadratic
    cosine check runs on n²/k-sized blocks instead of the corpus.  A vector
    is reported (= would be pruned) when some LOWER-id vector in its cluster
    is ≥ τ cosine-similar — a deterministic keep-the-smallest-id rule, so
    both engines agree without iterative greedy state.

    Scale shape: centroid assignment is a broadcast cross join collapsed
    map-side by max_by (operators/similarity.assign_buckets — the corpus
    never shuffles); the within-cluster self-join shuffles on the cluster
    id, and cluster sizes are bounded by the quantizer granularity: at
    100 TB you train k large enough (10⁵–10⁶) that n²/k stays linear-ish,
    exactly the SemDedup recipe.  τ=0.35 is demonstration geometry for the
    near-uniform synthetic vectors (corpus max cosine ≈ 0.51); the pipeline
    is threshold-agnostic.
    """
    from cosmo_spark.operators.dedup import embedding_near_dups
    from cosmo_spark.operators.similarity import assign_buckets

    e = _t(spark, sf_dir, "embeddings")
    resolve_vector_artifacts(spark, sf_dir)
    centroids = spark.sql(
        f"SELECT * FROM VALUES {_ivf_centroids_spark()} AS t(bucket, centroid)"
    )
    # two consumers (the a/b sides of the within-cluster self-join) —
    # checkpoint so assignment computes once; at 100 TB this frame is what
    # you would checkpoint to parquet (SemDedup materializes cluster
    # assignment too)
    assigned = assign_buckets(
        e, centroids, "embedding", "vec_id"
    ).localCheckpoint()
    # max_block: a hot k-means centroid is the canonical SemDedup skew
    # (near-duplicate mass collapses into one cluster) — the salted
    # triangular sub-blocking is an exact rewrite, so results are unchanged
    # while no single task ever holds more than ~256² candidate compares
    pairs = embedding_near_dups(
        assigned, "embedding", "vec_id",
        threshold=_SEMDEDUP_TAU, block_col="bucket", dim=64, max_block=256,
    )
    return pairs.groupBy("id_b").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.round(F.max("cos_sim"), 6).alias("max_sim"),
    ).select(F.col("id_b").alias("vec_id"), "n_dups", "max_sim")


# --------------------------------------------------------------------------- #
# q76 — BPE merge candidates: corpus-wide adjacent-pair counts                 #
# --------------------------------------------------------------------------- #

@register(
    "q76_bpe_pair_counts",
    operators=("TXT3", "A8"),
    oracle=f"""
WITH tl AS (SELECT {_DUCK_TOKS} AS toks FROM documents),
words AS (SELECT unnest(toks) AS w FROM tl),
wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM words GROUP BY w),
pairs AS (
  SELECT substr(w, i, 2) AS pair, freq
  FROM wf, unnest(range(1, len(w))) r(i)
  WHERE len(w) >= 2
), agg AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM pairs GROUP BY pair
), ranked AS (
  SELECT pair, cnt,
         row_number() OVER (ORDER BY cnt DESC, pair) AS rank
  FROM agg
)
SELECT pair, cnt, rank FROM ranked WHERE rank <= 20
""",
)
def q76_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training iteration: corpus-wide counts of adjacent
    character pairs, weighted by word frequency — the merge-candidate
    ranking at the heart of byte-pair-encoding training.

    The classic trick makes this scale: aggregate the corpus to the WORD
    FREQUENCY table first (one shuffle on the word key, partial aggregation
    map-side), then explode each distinct word's ~|w| character pairs
    weighted by its frequency.  Pair counting therefore runs over the
    vocabulary (Heaps-law sublinear), not the corpus; a web-scale corpus
    re-counts billions of tokens into a few million vocab rows before any
    per-character work happens.  The top-20 is a TakeOrdered over the
    ~alphabet² distinct pairs — no corpus-wide sort.
    """
    d = _t(spark, sf_dir, "documents")
    words = d.select(F.explode(tokenize(F.col("text"))).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = (
        wf.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair"),
            "freq",
        )
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").alias("cnt"))
    top = agg.orderBy(F.desc("cnt"), "pair").limit(20)
    w = Window.orderBy(F.desc("cnt"), "pair")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# --------------------------------------------------------------------------- #
# q77 — PII / policy pattern scan with deterministic redaction                 #
# --------------------------------------------------------------------------- #

_PAT_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PAT_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PAT_TERM = r"\bcustomer\b"


@register(
    "q77_pii_scan",
    operators=("P9", "P11"),
    oracle=f"""
WITH scanned AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_PAT_EMAIL}')) AS BIGINT) AS n_email,
         CAST(len(regexp_extract_all(text, '{_PAT_IPV4}')) AS BIGINT) AS n_ipv4,
         CAST(len(regexp_extract_all(text, '{_PAT_TERM}')) AS BIGINT) AS n_term,
         regexp_replace(text, '{_PAT_TERM}', '<ID>', 'g') AS red
  FROM documents
)
SELECT doc_id, n_email, n_ipv4, n_term,
       n_term > 0 AS has_term,
       {_DUCK_POLY.format(X="red")} AS redacted_hash
FROM scanned
""",
)
def q77_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / policy pattern scan + deterministic redaction — the compliance
    pass every training corpus runs before release: per-document match
    counts for an email pattern, an IPv4 pattern, and a policy-term pattern
    (the synthetic corpus is digit-free, so the email/IP counts exercise
    the zero path while the term pattern exercises real hits), plus the
    fingerprint of the redacted text so a downstream exact-dedup can run on
    scrubbed content.

    Scale shape: pure row-local regexp expressions in whole-stage codegen —
    a map-only scan with no shuffle, bounded by read bandwidth at 100 TB.
    Patterns are anchored with RE2/Java-common syntax so both engines
    compile identical automata; DuckDB's regexp_replace needs the explicit
    'g' flag to match Spark's replace-all semantics.
    """
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    red = F.regexp_replace(t, _PAT_TERM, "<ID>")
    return d.select(
        "doc_id",
        F.regexp_count(t, F.lit(_PAT_EMAIL)).cast("long").alias("n_email"),
        F.regexp_count(t, F.lit(_PAT_IPV4)).cast("long").alias("n_ipv4"),
        F.regexp_count(t, F.lit(_PAT_TERM)).cast("long").alias("n_term"),
        (F.regexp_count(t, F.lit(_PAT_TERM)) > 0).alias("has_term"),
        poly_hash(red).alias("redacted_hash"),
    )


# --------------------------------------------------------------------------- #
# q78 — multi-grain rollup cascade (continuous-aggregate pattern)              #
# --------------------------------------------------------------------------- #

@register(
    "q78_rollup_cascade",
    operators=("A9", "U1", "W6"),
    oracle="""
WITH es AS (
  -- trunc, not floor: Spark's `div` truncates toward zero, and DuckDB's
  -- `//` does too, so the whole bucketing scheme is truncation-based on
  -- both engines (divergence would only appear on pre-1970 fractional
  -- timestamps; pinned by test_q78_negative_epoch_bucket_parity)
  SELECT event_type, CAST(trunc(epoch(ts)) AS BIGINT) AS s,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), minute AS (
  SELECT event_type, (s // 60) * 60 AS bucket_s,
         CAST(count(*) AS BIGINT) AS n_events, CAST(sum(cents) AS BIGINT) AS sc
  FROM es GROUP BY event_type, (s // 60) * 60
), hour AS (
  SELECT event_type, (bucket_s // 3600) * 3600 AS bucket_s,
         CAST(sum(n_events) AS BIGINT) AS n_events, CAST(sum(sc) AS BIGINT) AS sc
  FROM minute GROUP BY event_type, (bucket_s // 3600) * 3600
), day AS (
  SELECT event_type, (bucket_s // 86400) * 86400 AS bucket_s,
         CAST(sum(n_events) AS BIGINT) AS n_events, CAST(sum(sc) AS BIGINT) AS sc
  FROM hour GROUP BY event_type, (bucket_s // 86400) * 86400
)
SELECT 'minute' AS grain, event_type, bucket_s, n_events, sc / 100.0 AS sum_value FROM minute
UNION ALL
SELECT 'hour' AS grain, event_type, bucket_s, n_events, sc / 100.0 AS sum_value FROM hour
UNION ALL
SELECT 'day' AS grain, event_type, bucket_s, n_events, sc / 100.0 AS sum_value FROM day
""",
)
def q78_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup cascade over the event stream — the
    hypertable / continuous-aggregate pattern: minute-grain aggregates are
    computed from the fact table ONCE, then hour aggregates re-aggregate
    the minute frame and day aggregates re-aggregate the hour frame.  The
    fact table is scanned exactly once; each coarser grain consumes the
    previous (exponentially smaller) aggregate, which is also how an
    incremental refresh would maintain them.  Sums ride as exact integer
    cents (the source values are 2-dp), so re-aggregation is bit-exact in
    any order at any scale — no float-tie risk (docs/PARITY.md rule 3).

    Scale shape: one corpus shuffle on (event_type, minute) with map-side
    partial aggregation; the hour and day shuffles move only minute/hour
    bucket rows (~10⁴ per fact-table 10⁷).  The minute frame feeds two
    consumers (output + hour derivation), and day reuses hour's plan the
    same way; neither is materialised (a persist of both measured no
    faster at sf0.1).
    """
    ev = _t(spark, sf_dir, "events")
    es = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("s"),
        # the source values are 2-dp: sum exact integer cents (PARITY rule 3
        # — int64 sums are order-independent; one final division is exact)
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    minute = (
        es.groupBy("event_type", F.expr("(s div 60) * 60").alias("bucket_s"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("sc"))
    )
    hour = (
        minute.groupBy(
            "event_type", F.expr("(bucket_s div 3600) * 3600").alias("bucket_s")
        )
        .agg(F.sum("n_events").alias("n_events"), F.sum("sc").alias("sc"))
    )
    day = hour.groupBy(
        "event_type", F.expr("(bucket_s div 86400) * 86400").alias("bucket_s")
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sc").alias("sc"))

    def shape(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "event_type",
            "bucket_s",
            "n_events",
            (F.col("sc") / 100.0).alias("sum_value"),
        )

    return (
        shape(minute, "minute")
        .unionByName(shape(hour, "hour"))
        .unionByName(shape(day, "day"))
    )


# --------------------------------------------------------------------------- #
# q79 — incremental dedup: ingest batch vs stored corpus                       #
# --------------------------------------------------------------------------- #

def _cross_dedup_oracle() -> str:
    """DuckDB twin of operators.dedup.cross_dedup on the mod-5 split:
    incoming = doc_id % 5 = 0, stored corpus = the rest.  Mirrors
    textops._minhash_oracle's signature/band construction (8 perms, 4
    bands) with an asymmetric incoming⋈stored candidate join."""
    from cosmo_spark.operators.dedup import minhash_perms

    perms = minhash_perms(8)
    p = 1_000_000_007
    mins = ",\n         ".join(
        f"min((h * {a} + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(perms)
    )
    bands = ",\n       ".join(
        f"(m{2 * b} * 31 + m{2 * b + 1}) % {p} AS band{b}" for b in range(4)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, band{b} AS band_hash FROM sigb"
        for b in range(4)
    )
    return f"""
WITH tl AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS pos FROM tl),
tokh AS (SELECT doc_id, pos, {_DUCK_POLY.replace("{X}", "tok")} AS th FROM tok),
shh AS (
  SELECT DISTINCT a.doc_id,
         ((a.th * 31 + b.th) % {p} * 31 + c.th) % {p} AS h
  FROM tokh a
  JOIN tokh b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN tokh c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
), sig AS (
  SELECT doc_id,
         {mins}
  FROM shh GROUP BY doc_id
), sigb AS (
  SELECT doc_id,
       {bands}
  FROM sig
), bandrows AS ({band_union}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandrows a JOIN bandrows b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
), verified AS (
  SELECT c.id_a, c.id_b,
         (SELECT count(*) FROM shh x JOIN shh y
            ON x.doc_id = c.id_a AND y.doc_id = c.id_b AND x.h = y.h) AS inter,
         (SELECT count(*) FROM shh x WHERE x.doc_id = c.id_a) AS na,
         (SELECT count(*) FROM shh y WHERE y.doc_id = c.id_b) AS nb
  FROM cand c
), per_doc AS (
  SELECT id_a, CAST(count(*) AS BIGINT) AS n_cand,
         max(CAST(inter AS DOUBLE) / (na + nb - inter)) AS mj
  FROM verified GROUP BY id_a
)
SELECT d.doc_id, coalesce(p.n_cand, 0) AS n_cand,
       round(p.mj, 6) AS max_jaccard,
       (p.mj IS NULL OR p.mj < 0.5) AS kept
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
LEFT JOIN per_doc p ON d.doc_id = p.id_a
"""


@register("q79_incremental_dedup", operators=("DD2", "J5"), oracle=_cross_dedup_oracle())
def q79_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-corpus) dedup — the ingest-time twin of q39:
    every 5th document plays the incoming batch, the rest the stored
    corpus; each incoming doc probes the corpus's MinHash band index
    (operators.dedup.cross_dedup), candidates verify with exact shingle
    Jaccard, and the batch comes back flagged ``kept`` / duplicate with
    its best corpus match score.  This asymmetric probe — not a
    within-corpus self-join — is what a continuously-ingesting pipeline
    actually runs per batch.
    """
    from cosmo_spark.operators.dedup import cross_dedup

    d = _t(spark, sf_dir, "documents")
    incoming = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    out = cross_dedup(
        incoming, corpus, "text", "doc_id",
        n_hashes=8, bands=4, shingle_n=3, threshold=0.5,
    )
    return out.select(
        "doc_id", "n_cand", F.round("max_jaccard", 6).alias("max_jaccard"), "kept"
    )


# --------------------------------------------------------------------------- #
# q80 — curriculum deciles: global quantile bucketing without a global window  #
# --------------------------------------------------------------------------- #

@register(
    "q80_quality_deciles",
    operators=("A6", "W6", "A13"),
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, n_chars, {_DUCK_TOKS} AS toks,
         row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS r
  FROM documents
), tot AS (SELECT count(*) AS n FROM documents),
dec AS (
  SELECT doc_id, n_chars, len(toks) AS n_tokens,
         CAST((r * 10) // n AS BIGINT) AS decile
  FROM ranked, tot
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM dec GROUP BY decile
""",
)
def q80_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: split the corpus into 10 equal-count deciles by
    a quality proxy (document length) and report each decile's doc count,
    length band, and token budget — the input to curriculum / quality-mixed
    training schedules ("sample decile 10 twice as often as decile 1").

    The interesting part is the GLOBAL rank with no global window: a
    single-partition ``row_number() OVER (ORDER BY ...)`` — what ntile
    would do — serializes the corpus through one reducer at 100 TB.
    Instead the rank decomposes exactly, the q63/q74 two-level discipline:

    1. the per-length histogram aggregates map-side (distinct lengths ≪
       corpus);
    2. its cumulative counts are a window over that TINY frame, broadcast
       back;
    3. each doc's exact global rank = (docs with shorter length) + its
       row_number within its OWN length partition (a keyed window,
       shuffle-partitioned by length, never global);
    4. decile = rank·10 div n, a row-local integer expression — bit-exact
       against the oracle's row_number formulation by construction.

    Ties split across decile boundaries deterministically (doc_id
    tiebreak), matching the oracle's total order exactly.
    """
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "n_chars", F.size(tokenize(F.col("text"))).alias("n_tokens")
    )
    hist = base.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.select(
        "n_chars", F.coalesce(F.sum("cnt").over(w_cum), F.lit(0)).alias("before")
    )
    # corpus size as a broadcast 1-row frame (derived from the histogram —
    # no extra scan, no driver-side action)
    total = hist.agg(F.sum("cnt").alias("n"))
    w_in = Window.partitionBy("n_chars").orderBy("doc_id")
    ranked = base.join(F.broadcast(cum), "n_chars").withColumn(
        "r", F.col("before") + F.row_number().over(w_in) - 1
    )
    dec = ranked.crossJoin(F.broadcast(total)).withColumn(
        "decile", F.expr("(r * 10) div n")
    )
    return dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# --------------------------------------------------------------------------- #
# q81 — distributed embedding covariance (the heavy half of PCA)               #
# --------------------------------------------------------------------------- #

@register(
    "q81_embedding_covariance",
    operators=("A4", "A10", "SIM2"),
    oracle="""
WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
           WHERE len(embedding) = 64),
cells AS (
  SELECT i, j, CAST(count(*) AS BIGINT) AS n, sum(e[i] * e[j]) AS sxy
  FROM v, unnest(range(1, 65)) a(i), unnest(range(1, 65)) b(j)
  GROUP BY i, j
), sums AS (
  SELECT i AS k, sum(e[i]) AS s
  FROM v, unnest(range(1, 65)) a(i) GROUP BY i
)
SELECT c.i, c.j,
       round(c.sxy / c.n - (si.s / c.n) * (sj.s / c.n), 6) AS cov
FROM cells c
JOIN sums si ON si.k = c.i
JOIN sums sj ON sj.k = c.j
""",
)
def q81_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of PCA: the 64×64 biased covariance matrix of
    the embedding corpus as (i, j, cov) cells — each row contributes its
    flattened outer product row-locally (the BLAS rank-1 update), partial
    aggregation collapses map-side, and the one exchange carries d² cells
    per map partition regardless of corpus size (the
    RowMatrix.computeGramianMatrix treeAggregate shape, declaratively).

    ``operators.pca.pca_whiten`` consumes these cells: driver-side eigh on
    the d² collected doubles (bounded), then projects the corpus through
    the top-k eigenbasis as a nested-array LITERAL — whitening as
    row-local codegen, the embedding pre-conditioning step before cosine
    dedup/ANN.  The eigendecomposition itself is not SQL-expressible, so
    THIS query gates the distributed computation and unit tests
    (tests/test_pca.py) gate the solver against numpy.
    """
    from cosmo_spark.operators.pca import covariance_cells

    e = _t(spark, sf_dir, "embeddings")
    cells = covariance_cells(e, "embedding", 64)
    cov = F.col("sxy") / F.col("n") - (F.col("sxi") / F.col("n")) * (
        F.col("sxj") / F.col("n")
    )
    return cells.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        F.round(cov, 6).alias("cov"),
    )


# --------------------------------------------------------------------------- #
# q82 — snapshot diff (CDC between two corpus versions)                        #
# --------------------------------------------------------------------------- #

@register(
    "q82_snapshot_diff",
    operators=("J5", "S16", "P11"),
    oracle="""
WITH old AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  WHERE doc_id % 11 <> 0
), new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 13 <> 0
), j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'insert'
              WHEN n.doc_id IS NULL THEN 'delete'
              WHEN (o.text, o.lang, o.source, o.n_chars) IS DISTINCT FROM
                   (n.text, n.lang, n.source, n.n_chars) THEN 'update'
         END AS change_type
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT doc_id, change_type FROM j WHERE change_type IS NOT NULL
""",
)
def q82_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two corpus snapshots
    (operators.merge.snapshot_diff): inserts, updates, and deletes from a
    full outer join on the key with a map-side xxhash64 row fingerprint —
    the wide row never rides the shuffle twice.  The demonstration
    snapshots derive deterministically from one table (mod-11 holdout =
    inserts, mod-13 holdout = deletes, mod-7 text revision = updates); the
    oracle re-expresses the SAME diff with direct value comparison, so the
    gate also proves the hash fingerprint loses nothing on this corpus.

    This is what turns a full re-crawl into incremental work downstream:
    only 'insert'/'update' keys re-enter dedup/quality/packing, and
    'delete' keys retire from the index — the reference's re-ingest-
    everything loop (ref: cosmo/sms/ingest_sms.py:288-294) inverted.
    """
    from cosmo_spark.operators.merge import snapshot_diff

    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 11 != 0)
    new = d.filter(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, "doc_id",
                         ["text", "lang", "source", "n_chars"])


# --------------------------------------------------------------------------- #
# q83 — duplicate-cluster representative selection (the actual keep list)      #
# --------------------------------------------------------------------------- #

def _rep_oracle() -> str:
    """q45's recursive-CTE transitive closure + per-cluster argmax."""
    from cosmo_spark.queries.textops import _cluster_oracle

    closure = _cluster_oracle().strip()
    return f"""
WITH clusters AS (
  {closure}
), scored AS (
  SELECT c.id, c.cluster, d.n_chars
  FROM clusters c JOIN documents d ON d.doc_id = c.id
), reps AS (
  SELECT cluster, id AS rep_id FROM (
    SELECT cluster, id,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY n_chars DESC, id) AS rn
    FROM scored) WHERE rn = 1
)
SELECT s.cluster, r.rep_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM scored s JOIN reps r ON s.cluster = r.cluster
GROUP BY s.cluster, r.rep_id
"""


@register("q83_cluster_representatives", operators=("DD6", "A8"), oracle=_rep_oracle())
def q83_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final step of near-dup removal: pick ONE representative per
    duplicate cluster (longest document, doc_id tiebreak) and count what
    drops — composed from q39's verified MinHash pairs and q45's connected
    components, then a per-cluster ``max_by`` argmax that resolves
    map-side (the A8 discipline: the exchange carries one candidate per
    (cluster, partition), never the membership).

    The keep rule matters operationally: "longest wins" retains the
    superset document when near-dups are truncations of each other —
    the standard corpus-dedup policy.
    """
    from cosmo_spark.operators.dedup import (
        duplicate_clusters,
        minhash_candidates,
        ngram_jaccard_pairs,
        shingle_table,
    )

    d = _t(spark, sf_dir, "documents")
    # the shingle table feeds the signatures and the verify; the closure
    # reads the verified pairs eagerly, so the pin ends with the call
    with persisted(shingle_table(d, "text", "doc_id", shingle_n=3)) as sh:
        cands = minhash_candidates(
            d, "text", "doc_id", n_hashes=8, bands=4, shingle_n=3, shingles=sh
        )
        verified = ngram_jaccard_pairs(
            d, "text", "doc_id", candidate_pairs=cands, shingles=sh
        )
        clusters = duplicate_clusters(verified.select("id_a", "id_b"))
    scored = clusters.join(
        d.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    key = F.struct(F.col("n_chars").alias("a"), (-F.col("id")).alias("b"))
    return scored.groupBy("cluster").agg(
        F.max_by("id", key).alias("rep_id"),
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


# --------------------------------------------------------------------------- #
# q84 — temperature-weighted source mixing (T5-style alpha sampling)           #
# --------------------------------------------------------------------------- #

_MIX_ALPHA = 0.3
_MIX_BUDGET = 100_000


@register(
    "q84_temperature_mix",
    operators=("A11", "A4"),
    oracle=f"""
WITH tl AS (SELECT source, {_DUCK_TOKS} AS toks FROM documents),
counts AS (
  SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM tl GROUP BY source
), w AS (
  SELECT source, n_tokens, pow(n_tokens, {_MIX_ALPHA}) AS pw FROM counts
), tot AS (SELECT sum(pw) AS t FROM w)
SELECT source, n_tokens,
       round(pw / t, 6) AS weight,
       round({_MIX_BUDGET} * pw / t, 3) AS alloc_tokens,
       round(least(1.0, {_MIX_BUDGET} * pw / t / n_tokens), 6) AS sample_rate
FROM w, tot
""",
)
def q84_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture design (the T5 / multilingual-sampling
    rule): source weight ∝ (source tokens)^α with α < 1, boosting
    low-resource sources without letting any source dominate; emit each
    source's normalized weight, its token allocation under a fixed budget,
    and the implied per-source sampling rate.  q63 executes an exact-budget
    cut; THIS computes the policy it would be fed at α ≠ 1.

    Scale shape: one keyed shuffle to (source, token-count) — partial
    sums map-side — then the normalizer is a broadcast 1-row frame;
    everything after the aggregate is arithmetic over n_sources rows.
    """
    d = _t(spark, sf_dir, "documents")
    counts = d.select(
        "source", F.size(tokenize(F.col("text"))).alias("n")
    ).groupBy("source").agg(F.sum("n").alias("n_tokens"))
    w = counts.withColumn("pw", F.pow("n_tokens", F.lit(_MIX_ALPHA)))
    tot = w.agg(F.sum("pw").alias("t"))
    frac = F.col("pw") / F.col("t")
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            F.round(frac, 6).alias("weight"),
            F.round(F.lit(_MIX_BUDGET) * frac, 3).alias("alloc_tokens"),
            F.round(
                F.least(F.lit(1.0), F.lit(_MIX_BUDGET) * frac / F.col("n_tokens")),
                6,
            ).alias("sample_rate"),
        )
    )


# --------------------------------------------------------------------------- #
# q85 — BM25 retrieval scoring (corpus search with literal query terms)        #
# --------------------------------------------------------------------------- #

_BM25_TERMS = ("spark", "window", "merge")
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "q85_bm25_search",
    operators=("TXT2", "A12", "J2"),
    oracle=f"""
WITH tl AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl FROM tl),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
words AS (SELECT doc_id, unnest(toks) AS w FROM tl),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM words
  WHERE w IN {str(tuple(_BM25_TERMS))} GROUP BY doc_id, w
), idf AS (
  SELECT w, ln((s.n - count(DISTINCT tf.doc_id) + 0.5)
               / (count(DISTINCT tf.doc_id) + 0.5) + 1.0) AS idf
  FROM tf, stats s GROUP BY w, s.n
)
SELECT tf.doc_id,
       round(sum(idf.idf * tf.tf * ({_BM25_K1} + 1)
                 / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                    + {_BM25_B} * dl.dl / s.avgdl))), 6) AS bm25
FROM tf
JOIN idf USING (w)
JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN stats s
GROUP BY tf.doc_id
""",
)
def q85_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 corpus search for a literal query-term set — the retrieval
    scoring an engine needs once a corpus doubles as a search index
    (eval-set mining, contamination triage, RAG source selection).

    Scale shape: ONE corpus scan explodes tokens and filters to the query
    terms map-side (the IN-list is a literal — Catalyst folds it into the
    scan predicate chain), so the (doc, term, tf) aggregate only ever sees
    matching postings.  Document lengths ride the same scan; corpus-level
    stats (N, avgdl) and per-term document frequencies are tiny aggregates
    broadcast back — the final score is a per-posting expression summed
    per document.  No corpus-wide join, no rank window; at 100 TB this is
    scan + one keyed postings shuffle.
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("toks"))
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    words = toks.select("doc_id", F.explode("toks").alias("w"))
    tf = (
        words.filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "w",
            F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
            .alias("idf"),
        )
    )
    k1, b = _BM25_K1, _BM25_B
    scored = (
        tf.join(F.broadcast(idf), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "s",
            F.col("idf") * F.col("tf") * (k1 + 1)
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return scored.groupBy("doc_id").agg(F.round(F.sum("s"), 6).alias("bm25"))


# --------------------------------------------------------------------------- #
# q86/q87 — product quantization: encode + ADC search with exact re-rank       #
# --------------------------------------------------------------------------- #

_PQ_NSUB, _PQ_SDIM = 16, 4
_PQ_RERANK = 50


def _pq_books():
    """PQ codebooks from the ACTIVE artifact set (queries/artifacts.py:
    committed literals on the test corpora, trainer output otherwise)."""
    from cosmo_spark.queries.artifacts import get_vector_artifacts

    return get_vector_artifacts().codebooks


def _pq_book_sql(s: int) -> str:
    return "[" + ", ".join(
        "[" + ", ".join(repr(float(x)) for x in c) + "]" for c in _pq_books()[s]
    ) + "]"


def _pq_encode_ctes() -> str:
    """Shared oracle CTE chain: v → slices → distance lists → codes."""
    n, sd = _PQ_NSUB, _PQ_SDIM
    slices = ", ".join(
        f"e[{s * sd + 1}:{(s + 1) * sd}] AS sl{s}" for s in range(n)
    )
    dists = ", ".join(
        f"list_transform({_pq_book_sql(s)}, c -> list_sum(list_transform("
        f"list_zip(sl{s}, c), p -> (p[1]-p[2])*(p[1]-p[2])))) AS d{s}"
        for s in range(n)
    )
    codes = ", ".join(
        f"list_position(d{s}, list_min(d{s})) AS c{s}" for s in range(n)
    )
    return f"""v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE len(embedding) = {n * sd}
), sl AS (SELECT vec_id, {slices} FROM v),
d AS (SELECT vec_id, {dists} FROM sl),
c AS (SELECT vec_id, {", ".join(f"d{s}" for s in range(n))}, {codes} FROM d)"""


def _pq_fold_sql() -> str:
    expr = "CAST(c0 AS BIGINT)"
    for s in range(1, _PQ_NSUB):
        expr = f"(({expr} * 31 + c{s}) % 1000000007)"
    return expr


def _q86_oracle() -> str:
    return f"""
WITH {_pq_encode_ctes()}
SELECT vec_id,
       {_pq_fold_sql()} AS code_hash,
       round({" + ".join(f"list_min(d{s})" for s in range(_PQ_NSUB))}, 6) AS se
FROM c
"""


@register("q86_pq_encode", operators=("SIM2", "A10"), oracle=_q86_oracle)
def q86_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (operators/pq.py): each 64-dim vector
    compresses to 16 subspace codes against literal offline-trained
    codebooks (16×16×4, tools/train_pq_codebooks.py) — 256 B of floats
    becomes 16 B of index entry, the memory trick that lets a 100 TB
    corpus's ANN index live in RAM.  Emits the modular poly-fold of the
    code vector (the catalog's array-parity discipline) and the exact
    squared reconstruction error, read directly off the winning distances.

    Row-local codegen end to end: slices, per-centroid distances, argmins
    and the error all stage as bound columns (Catalyst can't CSE inside
    lambdas); no shuffle at any corpus size.
    """
    from cosmo_spark.operators.pq import pq_encode

    e = _t(spark, sf_dir, "embeddings")
    resolve_vector_artifacts(spark, sf_dir)
    enc = pq_encode(e, "embedding", "vec_id", _pq_books())
    fold = F.element_at("codes", 1).cast("long")
    for s in range(1, _PQ_NSUB):
        fold = (fold * 31 + F.element_at("codes", s + 1)) % 1_000_000_007
    return enc.select(
        "vec_id", fold.alias("code_hash"), F.round("se", 6).alias("se")
    )


def _q87_oracle() -> str:
    n, sd = _PQ_NSUB, _PQ_SDIM
    qslices = ", ".join(
        f"e[{s * sd + 1}:{(s + 1) * sd}] AS qs{s}" for s in range(n)
    )
    qdists = ", ".join(
        f"list_transform({_pq_book_sql(s)}, c -> list_sum(list_transform("
        f"list_zip(qs{s}, c), p -> (p[1]-p[2])*(p[1]-p[2])))) AS dt{s}"
        for s in range(n)
    )
    adc = " + ".join(f"qd.dt{s}[c.c{s}]" for s in range(n))
    return f"""
WITH {_pq_encode_ctes()},
q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 8),
qs AS (SELECT query_id, {qslices} FROM q),
qd AS (SELECT query_id, {qdists} FROM qs),
pairs AS (
  SELECT qd.query_id, c.vec_id AS neighbor_id,
         {adc} AS adc
  FROM qd CROSS JOIN c WHERE qd.query_id <> c.vec_id
), shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, neighbor_id) AS rn
    FROM pairs) WHERE rn <= {_PQ_RERANK}
), exact AS (
  SELECT s.query_id, s.neighbor_id,
         list_sum(list_transform(list_zip(q.e, cv.e),
                                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS l2
  FROM shortlist s
  JOIN q ON q.query_id = s.query_id
  JOIN v cv ON cv.vec_id = s.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, round(l2, 6) AS l2_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY l2, neighbor_id) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, l2_dist, rank FROM ranked WHERE rank <= 5
"""


@register("q87_pq_adc_search", operators=("SIM2",), oracle=_q87_oracle)
def q87_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance) search over the PQ-encoded corpus with the
    production re-rank: each query builds its 16×16 lookup table row-locally
    from the literal codebooks and broadcasts it; every corpus entry's
    approximate distance is 16 array lookups summed in fixed subspace
    order; the ADC ranking keeps a 50-entry shortlist per query, and ONLY
    those 50 vectors rehydrate for the exact L2 top-5.  The corpus never
    shuffles and full vectors only move for shortlisted entries — which is
    why PQ indexes fit in memory at corpus scales where float vectors
    cannot.  Measured on this corpus: raw ADC recall@5 0.275, this
    shortlist-50 + re-rank pipeline 0.975 (geometry grid in
    tools/train_pq_codebooks.py).  Compose with q44's IVF buckets for the
    full IVF-PQ index (probe restricts WHICH entries, PQ bounds the cost
    of each).
    """
    from cosmo_spark.operators.pq import pq_adc_topk

    e = _t(spark, sf_dir, "embeddings")
    resolve_vector_artifacts(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 8)
    # the raw at-rest index IS the PQ code table (bucket column prunes
    # away) — whole-corpus ADC reads codes at rest instead of re-encoding
    # the corpus per query, the same build-once contract as q88/q90
    codes = _ensure_pq_index(spark, sf_dir, residual=False).select(
        "vec_id", "codes"
    )
    out = pq_adc_topk(
        e, queries, "embedding", "vec_id", _pq_books(), k=5,
        codes=codes, rerank=_PQ_RERANK,
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("l2_dist", 6).alias("l2_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------------- #
# q88 — IVF-PQ: the composed production ANN index                              #
# --------------------------------------------------------------------------- #

def _q88_oracle() -> str:
    n, sd = _PQ_NSUB, _PQ_SDIM
    nprobe = 10
    qslices = ", ".join(
        f"e[{s * sd + 1}:{(s + 1) * sd}] AS qs{s}" for s in range(n)
    )
    qdists = ", ".join(
        f"list_transform({_pq_book_sql(s)}, c -> list_sum(list_transform("
        f"list_zip(qs{s}, c), p -> (p[1]-p[2])*(p[1]-p[2])))) AS dt{s}"
        for s in range(n)
    )
    adc = " + ".join(f"qd.dt{s}[i.c{s}]" for s in range(n))
    return f"""
WITH {_pq_encode_ctes()},
vn AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nn FROM v),
cents AS (SELECT * FROM (VALUES {_ivf_centroids_duckdb()}) ct(bucket, centroid)),
cn AS (SELECT bucket, centroid,
              sqrt(list_sum(list_transform(centroid, x -> x * x))) AS cnorm
       FROM cents),
assigned AS (
  SELECT vec_id, bucket FROM (
    SELECT vv.vec_id, ct.bucket,
           row_number() OVER (PARTITION BY vv.vec_id ORDER BY
             (CASE WHEN vv.nn * ct.cnorm > 0 THEN
                list_sum(list_transform(list_zip(vv.e, ct.centroid), p -> p[1] * p[2]))
                  / (vv.nn * ct.cnorm) END) DESC NULLS LAST, ct.bucket) AS rn
    FROM vn vv CROSS JOIN cn ct) WHERE rn = 1
),
idx AS (SELECT c.*, a.bucket FROM c JOIN assigned a USING (vec_id)),
q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 8),
probes AS (
  SELECT query_id, bucket FROM (
    SELECT qq.query_id, ct.bucket,
           row_number() OVER (PARTITION BY qq.query_id ORDER BY
             (CASE WHEN ct.cnorm > 0 THEN
                list_sum(list_transform(list_zip(qq.e, ct.centroid), p -> p[1] * p[2]))
                  / (sqrt(list_sum(list_transform(qq.e, x -> x * x))) * ct.cnorm) END)
             DESC NULLS LAST, ct.bucket) AS rn
    FROM q qq CROSS JOIN cn ct) WHERE rn <= {nprobe}
),
qs AS (SELECT query_id, {qslices} FROM q),
qd AS (SELECT query_id, {qdists} FROM qs),
pairs AS (
  SELECT qd.query_id, i.vec_id AS neighbor_id,
         {adc} AS adc
  FROM qd
  JOIN probes p ON p.query_id = qd.query_id
  JOIN idx i ON i.bucket = p.bucket
  WHERE qd.query_id <> i.vec_id
), shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, neighbor_id) AS rn
    FROM pairs) WHERE rn <= {_PQ_RERANK}
), exact AS (
  SELECT s.query_id, s.neighbor_id,
         list_sum(list_transform(list_zip(qq.e, cv.e),
                                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS l2
  FROM shortlist s
  JOIN q qq ON qq.query_id = s.query_id
  JOIN v cv ON cv.vec_id = s.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, round(l2, 6) AS l2_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY l2, neighbor_id) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, l2_dist, rank FROM ranked WHERE rank <= 5
"""


def _pq_index_dir(sf_dir: str, residual: bool) -> "Path":
    """At-rest location for the materialized IVF-PQ index of one sf_dir:
    spark-warehouse/pq_index/<sf>_<raw|res>_<fingerprint>.  The
    fingerprint folds the source parquet's (path, mtime, size), an
    index-format version, AND the ACTIVE quantizer artifacts' content
    hash (queries/artifacts.artifact_fp) — so a regenerated testdata dir,
    a codebook change (bump _PQ_INDEX_VERSION), or a retrained quantizer
    can never serve a stale index encoded under different codebooks.
    Anchored at the repo root via __file__ — the driver probe runs from
    an arbitrary cwd."""
    import hashlib
    from pathlib import Path

    from cosmo_spark.queries.artifacts import artifact_fp, get_vector_artifacts

    src = Path(sf_dir) / "embeddings.parquet"
    st = src.stat()
    afp = artifact_fp(get_vector_artifacts())
    fp = hashlib.sha1(
        f"{src.resolve()}|{st.st_mtime_ns}|{st.st_size}|{_PQ_INDEX_VERSION}"
        f"|{afp}".encode()
    ).hexdigest()[:12]
    root = Path(__file__).resolve().parents[2] / "spark-warehouse" / "pq_index"
    tag = "res" if residual else "raw"
    return root / f"{Path(sf_dir).name}_{tag}_{fp}"


#: bump when the index schema/codebooks change — old fingerprints die
_PQ_INDEX_VERSION = 1


def _ensure_pq_index(spark: SparkSession, sf_dir: str, residual: bool) -> DataFrame:
    """Materialized at-rest IVF-PQ index (round-5 verdict #3): in
    production the index is built ONCE and queried forever, so charging
    every q88/q90 run a full corpus encode misrepresents the design's
    cost.  Builds (vec_id, codes, bucket) partitioned BY BUCKET into
    spark-warehouse on first use — partition pruning then means a query
    probing 10 of 40 buckets never even scans the other 30 — and reads it
    back on every later run.  Build cost is reported separately by
    bench.py (setup_sec), never hidden."""
    import os
    import shutil

    resolve_vector_artifacts(spark, sf_dir)
    d = _pq_index_dir(sf_dir, residual)
    if not (d / "_SUCCESS").exists():
        e = _t(spark, sf_dir, "embeddings")
        centroids = spark.sql(
            f"SELECT * FROM VALUES {_ivf_centroids_spark()} AS t(bucket, centroid)"
        )
        from cosmo_spark.operators.pq import ivf_pq_build_index

        books = _pq_rbooks() if residual else _pq_books()
        index = ivf_pq_build_index(
            e, centroids, "embedding", "vec_id", books, residual=residual
        ).select("vec_id", "codes", "bucket")
        tmp = str(d) + f".tmp-{os.getpid()}"
        index.write.partitionBy("bucket").mode("overwrite").parquet(tmp)
        from pathlib import Path

        Path(tmp, "__source").write_text(str(Path(sf_dir).resolve()))
        # atomic publish + reap stale fingerprints of the same (sf, tag)
        # and any index whose source dir is gone (sweep-test tmp dirs)
        d.parent.mkdir(parents=True, exist_ok=True)
        prefix = d.name.rsplit("_", 1)[0] + "_"
        for old in d.parent.iterdir():
            if old == d or old.name.endswith(f".tmp-{os.getpid()}"):
                continue
            if old.name == d.name + "_incr":
                continue  # current fingerprint's incremental twin (q105)
            src_marker = old / "__source"
            orphan = (
                src_marker.exists()
                and not Path(src_marker.read_text()).exists()
            )
            if old.name.startswith(prefix) or orphan:
                shutil.rmtree(old, ignore_errors=True)
        # publish: d existing WITHOUT _SUCCESS is a corrupt dir (crash
        # mid-publish, tampering) — repair it with the fresh build instead
        # of throwing the build away and serving the broken dir forever
        # (ADVICE r6).  Only the CORRUPT case is deleted: a concurrent
        # builder that published validly in the meantime carries _SUCCESS,
        # must not be rmtree'd out from under its readers, and surfaces as
        # os.replace failing on the non-empty dir -> use theirs.  (The
        # corrupt->valid TOCTOU window between this check and the rmtree is
        # inherent without a lock; both sides of it publish a valid index.)
        if d.exists() and not (d / "_SUCCESS").exists():
            shutil.rmtree(d, ignore_errors=True)
        try:
            os.replace(tmp, d)
        except OSError:
            if (d / "_SUCCESS").exists():
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                raise
    # explicit schema: an EMPTY corpus writes a fileless partition dir that
    # schema inference cannot read back (empty-sweep regression)
    return spark.read.schema(
        "vec_id BIGINT, codes ARRAY<INT>, bucket INT"
    ).parquet(str(d))


@register("q88_ivf_pq_search", operators=("SIM2",), oracle=_q88_oracle)
def q88_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ index (operators/pq.ivf_pq_topk) — the standard
    production ANN architecture: IVF coarse buckets bound WHICH entries a
    query touches (nprobe=10 of 40 ≈ 25% here), PQ codes bound what each
    touched entry costs (16 B vs 256 B of floats), and the exact re-rank
    rehydrates only the 50-entry shortlist.  Measured recall@5 at sf0.01:
    **0.85 — identical to the float-vector IVF path (q44) at the same
    probe budget, from an index 16× smaller**; at 100 TB that difference
    is an index that fits in cluster RAM versus one that does not.

    Both quantizers are literal offline artifacts (queries/ivf_centroids,
    queries/pq_codebooks), so the entire assign/encode/probe/ADC/re-rank
    pipeline is expressible in the DuckDB oracle and the gate covers it
    end to end.
    """
    from cosmo_spark.operators.pq import ivf_pq_query

    e = _t(spark, sf_dir, "embeddings")
    resolve_vector_artifacts(spark, sf_dir)
    centroids = spark.sql(
        f"SELECT * FROM VALUES {_ivf_centroids_spark()} AS t(bucket, centroid)"
    )
    queries = e.filter(F.col("vec_id") < 8)
    index = _ensure_pq_index(spark, sf_dir, residual=False)
    out = ivf_pq_query(
        index, e, queries, centroids, "embedding", "vec_id", _pq_books(),
        k=5, nprobe=10, rerank=_PQ_RERANK,
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("l2_dist", 6).alias("l2_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------------- #
# q90 — residual IVF-PQ: quantize (vector - coarse centroid)                   #
# --------------------------------------------------------------------------- #

#: residual cells are tighter, so the residual index reaches the IVF probe
#: ceiling (0.85 recall@5 at nprobe=10/40) with HALF the re-rank budget the
#: raw-vector index needs — measured grid in COVERAGE.md
_PQ_RERANK_RESIDUAL = 25


def _pq_rbooks():
    from cosmo_spark.queries.artifacts import get_vector_artifacts

    return get_vector_artifacts().residual_codebooks


def _pq_rbook_sql(s: int) -> str:
    return "[" + ", ".join(
        "[" + ", ".join(repr(float(x)) for x in c) + "]" for c in _pq_rbooks()[s]
    ) + "]"


def _q90_oracle() -> str:
    n, sd = _PQ_NSUB, _PQ_SDIM
    nprobe = 10
    rslices = ", ".join(
        f"rv[{s * sd + 1}:{(s + 1) * sd}] AS sl{s}" for s in range(n)
    )
    rdists = ", ".join(
        f"list_transform({_pq_rbook_sql(s)}, c -> list_sum(list_transform("
        f"list_zip(sl{s}, c), p -> (p[1]-p[2])*(p[1]-p[2])))) AS d{s}"
        for s in range(n)
    )
    rcodes = ", ".join(
        f"list_position(d{s}, list_min(d{s})) AS c{s}" for s in range(n)
    )
    qslices = ", ".join(
        f"qr[{s * sd + 1}:{(s + 1) * sd}] AS qs{s}" for s in range(n)
    )
    qdists = ", ".join(
        f"list_transform({_pq_rbook_sql(s)}, c -> list_sum(list_transform("
        f"list_zip(qs{s}, c), p -> (p[1]-p[2])*(p[1]-p[2])))) AS dt{s}"
        for s in range(n)
    )
    adc = " + ".join(f"qd.dt{s}[i.c{s}]" for s in range(n))
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE len(embedding) = {n * sd}
),
vn AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nn FROM v),
cents AS (SELECT * FROM (VALUES {_ivf_centroids_duckdb()}) ct(bucket, centroid)),
cn AS (SELECT bucket, centroid,
              sqrt(list_sum(list_transform(centroid, x -> x * x))) AS cnorm
       FROM cents),
assigned AS (
  SELECT vec_id, bucket, centroid FROM (
    SELECT vv.vec_id, ct.bucket, ct.centroid,
           row_number() OVER (PARTITION BY vv.vec_id ORDER BY
             (CASE WHEN vv.nn * ct.cnorm > 0 THEN
                list_sum(list_transform(list_zip(vv.e, ct.centroid), p -> p[1] * p[2]))
                  / (vv.nn * ct.cnorm) END) DESC NULLS LAST, ct.bucket) AS rn
    FROM vn vv CROSS JOIN cn ct) WHERE rn = 1
),
rv AS (
  SELECT a.vec_id, a.bucket,
         list_transform(list_zip(vv.e, a.centroid), p -> p[1] - p[2]) AS rv
  FROM assigned a JOIN v vv USING (vec_id)
),
sl AS (SELECT vec_id, bucket, {rslices} FROM rv),
d AS (SELECT vec_id, bucket, {rdists} FROM sl),
idx AS (SELECT vec_id, bucket, {rcodes} FROM d),
q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 8),
probes AS (
  SELECT query_id, bucket, centroid FROM (
    SELECT qq.query_id, ct.bucket, ct.centroid,
           row_number() OVER (PARTITION BY qq.query_id ORDER BY
             (CASE WHEN ct.cnorm > 0 THEN
                list_sum(list_transform(list_zip(qq.e, ct.centroid), p -> p[1] * p[2]))
                  / (sqrt(list_sum(list_transform(qq.e, x -> x * x))) * ct.cnorm) END)
             DESC NULLS LAST, ct.bucket) AS rn
    FROM q qq CROSS JOIN cn ct) WHERE rn <= {nprobe}
),
qres AS (
  SELECT p.query_id, p.bucket,
         list_transform(list_zip(qq.e, p.centroid), p2 -> p2[1] - p2[2]) AS qr
  FROM probes p JOIN q qq USING (query_id)
),
qs AS (SELECT query_id, bucket, {qslices} FROM qres),
qd AS (SELECT query_id, bucket, {qdists} FROM qs),
pairs AS (
  SELECT qd.query_id, i.vec_id AS neighbor_id,
         {adc} AS adc
  FROM qd
  JOIN idx i ON i.bucket = qd.bucket
  WHERE qd.query_id <> i.vec_id
), shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, neighbor_id) AS rn
    FROM pairs) WHERE rn <= {_PQ_RERANK_RESIDUAL}
), exact AS (
  SELECT s.query_id, s.neighbor_id,
         list_sum(list_transform(list_zip(qq.e, cv.e),
                                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS l2
  FROM shortlist s
  JOIN q qq ON qq.query_id = s.query_id
  JOIN v cv ON cv.vec_id = s.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, round(l2, 6) AS l2_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY l2, neighbor_id) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, l2_dist, rank FROM ranked WHERE rank <= 5
"""


def _ensure_pq_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-MAINTENANCE path: the same at-rest (vec_id, codes, bucket)
    layout built in two installments — an initial build of half the
    corpus, then an append-mode write of the arriving half (encode is
    row-local, so an increment never touches existing index files; the
    bucket partitioning means each append only adds files under its
    buckets' directories).  q105 proves search over the incrementally
    built index is bit-identical to the full-rebuild oracle."""
    import os
    import shutil

    from cosmo_spark.operators.pq import ivf_pq_build_index

    resolve_vector_artifacts(spark, sf_dir)
    d = str(_pq_index_dir(sf_dir, residual=False)) + "_incr"
    if not os.path.exists(os.path.join(d, "_APPENDED")):
        shutil.rmtree(d, ignore_errors=True)
        e = _t(spark, sf_dir, "embeddings")
        centroids = spark.sql(
            f"SELECT * FROM VALUES {_ivf_centroids_spark()} AS t(bucket, centroid)"
        )

        def build(part):
            return ivf_pq_build_index(
                part, centroids, "embedding", "vec_id", _pq_books()
            ).select("vec_id", "codes", "bucket")

        build(e.filter(F.col("vec_id") % 2 == 0)) \
            .write.partitionBy("bucket").mode("overwrite").parquet(d)
        build(e.filter(F.col("vec_id") % 2 == 1)) \
            .write.partitionBy("bucket").mode("append").parquet(d)
        open(os.path.join(d, "_APPENDED"), "w").close()
        from pathlib import Path

        Path(d, "__source").write_text(str(Path(sf_dir).resolve()))
    return spark.read.schema(
        "vec_id BIGINT, codes ARRAY<INT>, bucket INT"
    ).parquet(d)


@register("q105_incremental_index", operators=("SIM2", "ST3"), oracle=_q88_oracle)
def q105_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search over an INCREMENTALLY-maintained at-rest index: half
    the corpus indexed first, the other half appended later (the
    streaming-ingest maintenance shape — new embeddings arrive, encode
    row-locally, append under their bucket partitions without rewriting
    a byte of the existing index).  The oracle is q88's FULL-REBUILD
    pipeline verbatim, so the gate proves increment-then-search ==
    rebuild-then-search bit-for-bit — the invariant that makes
    append-only index maintenance safe at 100 TB."""
    from cosmo_spark.operators.pq import ivf_pq_query

    e = _t(spark, sf_dir, "embeddings")
    resolve_vector_artifacts(spark, sf_dir)
    centroids = spark.sql(
        f"SELECT * FROM VALUES {_ivf_centroids_spark()} AS t(bucket, centroid)"
    )
    queries = e.filter(F.col("vec_id") < 8)
    index = _ensure_pq_index_incremental(spark, sf_dir)
    out = ivf_pq_query(
        index, e, queries, centroids, "embedding", "vec_id", _pq_books(),
        k=5, nprobe=10, rerank=_PQ_RERANK,
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("l2_dist", 6).alias("l2_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


@register("q90_ivf_pq_residual", operators=("SIM2",), oracle=_q90_oracle)
def q90_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (operators/pq.ivf_pq_topk residual=True) — the
    production refinement over q88: each index entry quantizes its
    RESIDUAL (vector − assigned coarse centroid) against residual-trained
    codebooks (queries/pq_codebooks.PQ_RESIDUAL_CODEBOOKS), and each query
    builds one ADC lookup table per probed bucket over (query − that
    bucket's centroid), approximating the same ||q − v||² with tighter
    cells.  Cost shape identical to q88: the centroid attach is a
    broadcast join folded into the codegen encode (no extra corpus pass)
    and the per-(query, bucket) tables broadcast — nprobe small tables
    per query instead of one.  Recall grid vs q88 in COVERAGE.md (on this
    near-uniform synthetic corpus the coarse quantizer removes only ~4%
    of vector energy, so the residual gain is honest-but-modest; on
    clustered production embeddings it is the standard win).
    """
    from cosmo_spark.operators.pq import ivf_pq_query

    e = _t(spark, sf_dir, "embeddings")
    resolve_vector_artifacts(spark, sf_dir)
    centroids = spark.sql(
        f"SELECT * FROM VALUES {_ivf_centroids_spark()} AS t(bucket, centroid)"
    )
    queries = e.filter(F.col("vec_id") < 8)
    index = _ensure_pq_index(spark, sf_dir, residual=True)
    out = ivf_pq_query(
        index, e, queries, centroids, "embedding", "vec_id", _pq_rbooks(),
        k=5, nprobe=10, rerank=_PQ_RERANK_RESIDUAL, residual=True,
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("l2_dist", 6).alias("l2_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------------- #
# q89 — table profiling (the data-quality DESCRIBE every pipeline runs first)  #
# --------------------------------------------------------------------------- #

_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


@register(
    "q89_profile_table",
    operators=("A1", "A12", "U2"),
    oracle=" UNION ALL ".join(
        f"""SELECT '{c}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM documents"""
        for c in _PROFILE_COLS
    ),
)
def q89_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of a table — row count, null count, exact distinct
    count, min/max per column — the data-quality DESCRIBE a pipeline runs
    before trusting a new corpus drop (null-rate regressions and
    cardinality collapses are how upstream breakage usually shows up).

    One scan computes every column's stats in a single aggregate; the
    per-column rows are an unpivot of that one row.  Exact multi-column
    countDistinct makes Spark plan an Expand (one replica of the scan's
    rows per distinct-column) — the documented profiling trade; at 100 TB
    flip to approx_count_distinct and the whole profile collapses to one
    partial-aggregated pass with HLL sketches (the A12 switch).  min/max
    stringify so heterogeneous columns share one output schema.
    """
    d = _t(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__mn"),
            F.max(c).cast("string").alias(f"{c}__mx"),
        ]
    one = d.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__nd, {c}__mn, {c}__mx"
        for c in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(column_name, n_rows, n_null, n_distinct, min_value, max_value)"
    )


# --------------------------------------------------------------------------- #
# q93 — referential-integrity audit (cross-table FK orphan counts)             #
# --------------------------------------------------------------------------- #

_FK_EDGES = (
    # child, fk, parent, pk
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


@register(
    "q93_ri_audit",
    operators=("J5", "A4", "U2"),
    oracle=" UNION ALL ".join(
        f"""SELECT '{child}.{fk} -> {parent}.{pk}' AS fk_edge,
       CAST(count(*) AS BIGINT) AS n_child,
       CAST(sum(CASE WHEN {fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_fk,
       CAST(sum(CASE WHEN {fk} IS NOT NULL AND p.{pk} IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
       round(sum(CASE WHEN {fk} IS NOT NULL AND p.{pk} IS NULL
                 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
         AS orphan_rate
FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
  ON c.{fk} = p.{pk}"""
        for child, fk, parent, pk in _FK_EDGES
    ),
)
def q93_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the model's FK edges — the
    cross-table sibling of q89's single-table profile, and the validation
    gate a pipeline runs on every new data drop: one row per FK edge with
    child-row, null-FK, and ORPHAN counts (a non-null FK value with no
    parent).

    Scale shape per edge: left join against the parent's DISTINCT key
    projection — Catalyst prunes the parent to one column before the
    distinct, dimension-sized parents broadcast (nation/region/customer),
    and the fact-sized edge (lineitem→orders) is a keyed equi-join AQE can
    split on skew; counting collapses map-side.  Edges audit independently
    and union — at 100 TB run them as separate jobs off the same scan
    snapshot."""
    rows = None
    for child, fk, parent, pk in _FK_EDGES:
        c = _t(spark, sf_dir, child)
        p = _t(spark, sf_dir, parent).select(pk).distinct()
        joined = c.join(p, c[fk] == p[pk], "left")
        orphan = F.sum(
            F.when(c[fk].isNotNull() & p[pk].isNull(), 1).otherwise(0)
        )
        r = joined.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(c[fk].isNull(), 1).otherwise(0))
             .cast("long").alias("n_null_fk"),
            orphan.cast("long").alias("n_orphans"),
            F.round(orphan / F.count(F.lit(1)).cast("double"), 6)
             .alias("orphan_rate"),
        ).select(
            F.lit(f"{child}.{fk} -> {parent}.{pk}").alias("fk_edge"),
            "n_child", "n_null_fk", "n_orphans", "orphan_rate",
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


# --------------------------------------------------------------------------- #
# q96 — largest-remainder quota allocation (exact eval-budget apportionment)   #
# --------------------------------------------------------------------------- #

_Q96_BUDGET = 1000  # eval rows to apportion across sources


@register(
    "q96_quota_allocation",
    operators=("A4", "O1"),
    oracle=f"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents
  WHERE source IS NOT NULL GROUP BY source
), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS k FROM per),
q AS (
  SELECT source, n,
         (n * {_Q96_BUDGET}) // t AS floor_q,
         (n * {_Q96_BUDGET}) % t AS rem
  FROM per, tot
), ranked AS (
  SELECT source, n, floor_q, rem,
         row_number() OVER (ORDER BY rem DESC, source) AS rr,
         CAST({_Q96_BUDGET} AS BIGINT) - sum(floor_q) OVER () AS leftover
  FROM q
)
SELECT source, n, CAST(floor_q AS BIGINT) AS floor_quota,
       CAST(floor_q + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS quota
FROM ranked
""",
)
def q96_quota_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed eval budget
    across sources — the exact-allocation step a pipeline runs when the
    spec says "exactly N eval rows, proportional to source size": floor
    quotas first, then the leftover seats go to the largest fractional
    remainders (ties to the lexically-smallest source).  Everything is
    INTEGER arithmetic — remainders compare as ``(n*B) mod T`` so the
    allocation is bit-exact in any engine and sums to the budget by
    construction.

    Scale shape: one partial-combining count per source; the rank and the
    leftover sum are windows over the SOURCE table (one row per source),
    never the corpus.
    """
    d = _t(spark, sf_dir, "documents").filter(F.col("source").isNotNull())
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = per.agg(F.sum("n").alias("t"))
    q = per.crossJoin(F.broadcast(tot)).select(
        "source", "n",
        F.expr(f"(n * {_Q96_BUDGET}) div t").alias("floor_q"),
        ((F.col("n") * _Q96_BUDGET) % F.col("t")).alias("rem"),
    )
    w = Window.orderBy(F.desc("rem"), "source")
    wall = Window.partitionBy()
    ranked = q.select(
        "source", "n", "floor_q", "rem",
        F.row_number().over(w).alias("rr"),
        (F.lit(_Q96_BUDGET).cast("long")
         - F.sum("floor_q").over(wall)).alias("leftover"),
    )
    return ranked.select(
        "source", "n",
        F.col("floor_q").cast("long").alias("floor_quota"),
        (F.col("floor_q")
         + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0))
        .cast("long").alias("quota"),
    )


_Q124_ORACLE = """
WITH f AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL AND n_chars >= 0
), vb AS (
  SELECT source, v, count(*) AS c FROM f GROUP BY source, v
), cum AS (
  SELECT source, v, c,
         CAST(coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_less,
         CAST(coalesce(sum(v * c) OVER (PARTITION BY source ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS s_less
  FROM vb
), agg AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(v * c) AS BIGINT) AS s,
         CAST(sum(c * (v * n_less - s_less)) AS BIGINT) AS half_delta
  FROM cum GROUP BY source
)
SELECT source, n AS n_docs,
       CASE WHEN s > 0
            THEN round(CAST(2 * half_delta AS DOUBLE)
                       / (2.0 * n * s), 6)
            ELSE 0.0 END AS gini
FROM agg
"""


@register("q124_gini_concentration", operators=("A6", "A4"),
          oracle=_Q124_ORACLE)
def q124_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document length per source — the concentration
    /inequality profile a mixing pipeline checks before weighting
    sources (a source whose token mass sits in a few huge documents
    behaves very differently under sampling than an even one; same
    statistic used for label/source imbalance audits).

    Exact mean-difference form, no sort of facts: G = Delta / (2*n*S)
    with Delta = sum over ordered pairs |x_i - x_j|, decomposed per
    distinct value as 2*c_v*(v*n_less - s_less) — the strictly-below
    counts and strictly-below value sums are BOTH grouped_less_cumsum
    runs (weight=None and weight=value), so every term is exact BIGINT
    and order-independent; one division + round at output.  Work unit =
    distinct (source, length) values (the q104 class), replication-
    invariant; int64 is exact to ~n*v*n < 2^63 (documented bound, the
    q109 two-level-mod recipe applies beyond)."""
    from cosmo_spark.operators.robust import grouped_less_cumsum

    f = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
        & F.col("n_chars").isNotNull()
        & (F.col("n_chars") >= 0)
    ).select("source", F.col("n_chars").cast("long").alias("v"))
    lc_n = grouped_less_cumsum(f, "source", "v", out_col="n_less")
    lc_s = grouped_less_cumsum(
        f.withColumn("w", F.col("v")), "source", "v", weight="w",
        out_col="s_less",
    ).select("source", "v", "s_less")
    cv = f.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c"))
    cells = (
        cv.join(lc_n, ["source", "v"])
        .join(lc_s, ["source", "v"])
    )
    agg = cells.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("v") * F.col("c")).alias("s"),
        F.sum(
            F.col("c") * (F.col("v") * F.col("n_less") - F.col("s_less"))
        ).alias("half_delta"),
    )
    return agg.select(
        "source",
        F.col("n").alias("n_docs"),
        F.when(
            F.col("s") > 0,
            F.round(
                (2 * F.col("half_delta")).cast("double")
                / (F.lit(2.0) * F.col("n") * F.col("s")),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("gini"),
    )


_Q130_ORACLE = """
WITH f AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
), vb AS (
  SELECT source, v, count(*) AS c FROM f GROUP BY source, v
), cum AS (
  SELECT source, v, c,
         CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cw,
         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM vb
), lo AS (
  SELECT source, min(v) AS p10 FROM cum WHERE 10 * cw >= n GROUP BY source
), hi AS (
  SELECT source, min(v) AS p90 FROM cum WHERE 10 * cw >= 9 * n GROUP BY source
)
SELECT f.source,
       min(lo.p10) AS p10, min(hi.p90) AS p90, count(*) AS n,
       round(CAST(sum(CASE WHEN f.v < lo.p10 THEN lo.p10
                           WHEN f.v > hi.p90 THEN hi.p90
                           ELSE f.v END) AS DOUBLE) / count(*), 6)
         AS winsorized_mean
FROM f JOIN lo ON lo.source = f.source JOIN hi ON hi.source = f.source
GROUP BY f.source
"""


@register("q130_winsorized_mean", operators=("A6", "A4"), oracle=_Q130_ORACLE)
def q130_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean document length per source: values clipped at the
    exact within-source p10/p90 before averaging — the robust location
    estimate pipelines report when a handful of megadocuments would
    otherwise own the mean (and the clipping rule quality filters apply
    before length normalization).

    Percentiles are exact rank SELECTIONS from the value-level
    cumulative table (min{v : 10*cum >= n} and min{v : 10*cum >= 9n} —
    integer thresholds, the q129 multi-quantile pattern), clipping and
    summation are exact BIGINT over integer lengths, and the single
    division is rounded at output.  Two passes over the value table,
    one over the facts; no per-group sort anywhere."""
    from cosmo_spark.operators.robust import grouped_less_cumsum

    f = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    ).select("source", F.col("n_chars").cast("long").alias("v"))
    lc = grouped_less_cumsum(f, "source", "v")
    cv = f.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c"))
    cum = lc.join(cv, ["source", "v"]).select(
        "source", "v",
        (F.col("less") + F.col("c")).alias("cw"),
        F.col("grp_total").alias("n"),
    )
    lo = cum.filter(10 * F.col("cw") >= F.col("n")).groupBy("source").agg(
        F.min("v").alias("p10")
    )
    hi = cum.filter(10 * F.col("cw") >= 9 * F.col("n")).groupBy("source").agg(
        F.min("v").alias("p90")
    )
    clipped = (
        f.join(F.broadcast(lo), "source").join(F.broadcast(hi), "source")
        .select(
            "source", "p10", "p90",
            F.when(F.col("v") < F.col("p10"), F.col("p10"))
            .when(F.col("v") > F.col("p90"), F.col("p90"))
            .otherwise(F.col("v")).alias("w"),
        )
    )
    return clipped.groupBy("source").agg(
        F.min("p10").alias("p10"),
        F.min("p90").alias("p90"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("w").cast("double") / F.count(F.lit(1)), 6)
          .alias("winsorized_mean"),
    )


_Q131_BINS = 32
_Q131_W = 32  # fixed bin width in chars: documents are 0..~1000 chars

_Q131_ORACLE = f"""
WITH f AS (
  SELECT source,
         least({_Q131_BINS - 1}, CAST(n_chars AS BIGINT) // {_Q131_W}) AS b
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
), hb AS (
  SELECT source, b, count(*) AS c FROM f GROUP BY source, b
), n AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM hb GROUP BY source
), grid AS (
  SELECT a.source AS src_a, b.source AS src_b, a.b AS bin,
         a.c AS ca, coalesce(bb.c, 0) AS cb, na.n AS na, nb.n AS nb
  FROM hb a
  JOIN n na ON na.source = a.source
  CROSS JOIN (SELECT DISTINCT source FROM f) b
  JOIN n nb ON nb.source = b.source
  LEFT JOIN hb bb ON bb.source = b.source AND bb.b = a.b
  WHERE a.source < b.source
)
SELECT src_a, src_b,
       round(sum(
         CASE WHEN CAST(ca AS DOUBLE) / na <= CAST(cb AS DOUBLE) / nb
              THEN CAST(ca AS DOUBLE) / na ELSE CAST(cb AS DOUBLE) / nb END
       ), 6) AS overlap
FROM grid GROUP BY src_a, src_b
"""


@register("q131_distribution_drift", operators=("A5", "A11"),
          oracle=_Q131_ORACLE)
def q131_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise histogram-intersection similarity of the document-length
    distribution between sources — the distribution-drift screen
    (train/serve skew, ingest regression between snapshots): overlap =
    sum_bins min(p_i, q_i), 1.0 for identical shapes, 0 for disjoint.

    Everything heavy is ONE map-side (source, bin) count aggregate;
    the pair grid lives on sources x 32 bins (dimension-scale).  The
    only floats are the per-bin c/n proportions — each a SINGLE
    division of exact integers, compared and summed per pair over a
    fixed 32-term bin list, identical expression shape in the oracle
    (sum order over <=32 doubles is the groupBy's, but every term is a
    quotient of the same integers in both engines and the min() choice
    is made BEFORE summation, so 6-dp rounding absorbs the tail)."""
    f = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    ).select(
        "source",
        F.least(
            F.lit(_Q131_BINS - 1),
            F.expr(f"CAST(n_chars AS BIGINT) div {_Q131_W}"),
        ).alias("b"),
    )
    hb = f.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    n = hb.groupBy("source").agg(F.sum("c").alias("n"))
    srcs = f.select("source").distinct()
    a = (
        hb.join(n, "source")
        .select(
            F.col("source").alias("src_a"), F.col("b").alias("bin"),
            F.col("c").alias("ca"), F.col("n").alias("na"),
        )
    )
    bside = srcs.select(F.col("source").alias("src_b")).join(
        n.select(F.col("source").alias("src_b"), F.col("n").alias("nb")),
        "src_b",
    )
    hbb = hb.select(
        F.col("source").alias("src_b"), F.col("b").alias("bin"),
        F.col("c").alias("cb"),
    )
    grid = (
        a.crossJoin(F.broadcast(bside))
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(hbb), ["src_b", "bin"], "left")
        .select(
            "src_a", "src_b", "bin", "ca", "na", "nb",
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
        )
    )
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    term = F.when(pa <= pb, pa).otherwise(pb)
    return grid.groupBy("src_a", "src_b").agg(
        F.round(F.sum(term), 6).alias("overlap")
    )


_Q132_BUDGET = 120  # target number of sampled documents

_Q132_ORACLE = f"""
WITH f AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
         {{H}} AS h
  FROM (SELECT doc_id, source, n_chars, text FROM documents
        WHERE source IS NOT NULL AND n_chars IS NOT NULL
              AND n_chars > 0 AND text IS NOT NULL)
), tot AS (SELECT CAST(sum(w) AS BIGINT) AS s FROM f),
kept AS (
  SELECT f.doc_id, f.source, f.w
  FROM f CROSS JOIN tot
  WHERE (f.h % 1000000) * tot.s < {_Q132_BUDGET} * f.w * 1000000
)
SELECT f.source,
       count(*) AS n_docs,
       CAST(sum(f.w) AS BIGINT) AS w_total,
       count(k.doc_id) AS n_sampled,
       CAST(coalesce(sum(k.w), 0) AS BIGINT) AS w_sampled
FROM f LEFT JOIN kept k ON k.doc_id = f.doc_id
GROUP BY f.source
"""


def _q132_oracle() -> str:
    from cosmo_spark.queries.textops import _DUCK_POLY

    return _Q132_ORACLE.replace("{H}", _DUCK_POLY.replace("{X}", "text"))


@register("q132_weighted_sample", operators=("P16", "A11"),
          oracle=_q132_oracle())
def q132_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic size-proportional Bernoulli sampling: each document
    is kept with probability budget * w / sum(w) (w = length), decided
    by its own content hash — the 'sample tokens, not documents' rule
    length-skewed corpora need (uniform doc sampling under-represents
    long documents' token mass), completing the sampling trio: q46
    fixed per-stratum rates, q126 exact-k quotas, THIS weighted rates.

    Reproducible-by-content like both siblings: membership is
    (h mod 1e6) * S < budget * w * 1e6 — INTEGER arithmetic throughout
    (S broadcast from one aggregate; products bounded by 1e6*S*w — the
    int64 ceiling is documented at S*w < ~9e12, beyond which the same
    rule runs in DECIMAL/two-level mod, the q109 recipe).  Output is the
    per-source audit: docs/weight totals vs sampled counts, so the
    realized inclusion tracks the design rate."""
    f = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
        & F.col("n_chars").isNotNull()
        & (F.col("n_chars") > 0)
        & F.col("text").isNotNull()
    ).select(
        "doc_id", "source",
        F.col("n_chars").cast("long").alias("w"),
        poly_hash(F.col("text")).alias("h"),
    )
    tot = f.agg(F.sum("w").alias("s"))
    kept = (
        f.crossJoin(F.broadcast(tot))
        .filter(
            # membership comparison in DECIMAL(38,0) (advice r7): the
            # int64 form silently WRAPS once S*1e6 passes 2^63 (~9.2e12
            # total corpus weight — exactly the 100 TB regime), because
            # non-ANSI Spark wraps instead of erroring; decimal widens
            # headroom to 1e38 so the documented ceiling is enforced by
            # arithmetic, not prose.  DuckDB computes the same product in
            # HUGEINT (exact), so parity is unchanged.
            (F.col("h") % F.lit(1000000)).cast("decimal(7,0)")
            * F.col("s").cast("decimal(20,0)")
            < F.lit(_Q132_BUDGET).cast("decimal(7,0)")
            * F.col("w").cast("decimal(20,0)")
            * F.lit(1000000).cast("decimal(7,0)")
        )
        .select(F.col("doc_id").alias("k_id"), F.col("w").alias("kw"))
    )
    return (
        f.join(kept, f["doc_id"] == kept["k_id"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("w_total"),
            F.count("k_id").alias("n_sampled"),
            F.coalesce(F.sum("kw"), F.lit(0)).alias("w_sampled"),
        )
    )


# --------------------------------------------------------------------------- #
# q153 — model-filtered corpus build: classifier -> dedup -> token budget      #
# --------------------------------------------------------------------------- #

def _q153_oracle() -> str:
    from cosmo_spark.functions.bpe import duck_bpe_train_ctes
    from cosmo_spark.queries.bpe_artifacts import BPE_N_MERGES
    from cosmo_spark.queries.quality_artifacts import (
        get_quality_weights,
        margin_sql_duck,
    )

    dim, w = get_quality_weights()
    if dim == 0:
        return (
            "SELECT CAST(NULL AS VARCHAR) AS source, "
            "CAST(NULL AS BIGINT) AS n_candidates, "
            "CAST(NULL AS BIGINT) AS n_model_kept, "
            "CAST(NULL AS BIGINT) AS n_unique, "
            "CAST(NULL AS BIGINT) AS token_budget WHERE FALSE"
        )
    ctes, final, _ = duck_bpe_train_ctes(_DUCK_TOKS, BPE_N_MERGES)
    norm = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
    th_doc = _DUCK_POLY.replace("{X}", norm)
    return f"""
WITH {", ".join(ctes)},
tokcost AS (SELECT word, CAST(len(w) AS BIGINT) AS n_sym FROM {final}),
cand AS (
  SELECT d.doc_id, d.source, d.text,
         CASE WHEN {margin_sql_duck(dim, w)} >= 0 THEN 1 ELSE 0 END AS kept
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE e.embedding IS NOT NULL AND len(e.embedding) = {dim}
),
hashed AS (SELECT doc_id, source, text, kept, {th_doc} AS th_doc FROM cand),
reps AS (
  SELECT th_doc, min(doc_id) AS rep_id FROM hashed WHERE kept = 1
  GROUP BY th_doc
),
flags AS (
  SELECT h.doc_id, h.source, h.text, h.kept,
         CASE WHEN r.rep_id = h.doc_id THEN 1 ELSE 0 END AS is_rep
  FROM hashed h LEFT JOIN reps r USING (th_doc)
),
doctok AS (
  SELECT f.doc_id, CAST(sum(t.n_sym) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS word
        FROM flags WHERE is_rep = 1) f
  JOIN tokcost t USING (word) GROUP BY f.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(kept) AS BIGINT) AS n_model_kept,
       CAST(sum(is_rep) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN is_rep = 1
                     THEN COALESCE(d.n_tokens, 0) ELSE 0 END) AS BIGINT)
         AS token_budget
FROM flags LEFT JOIN doctok d USING (doc_id)
GROUP BY source
"""


@register("q153_model_corpus_build", operators=("TXT2", "TXT3", "DD1", "J1"),
          oracle=_q153_oracle)
def q153_model_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-9 capstone: a corpus build whose every stage is a TRAINED
    artifact rather than a heuristic — the FineWeb-Edu-shaped pipeline.
    Documents join their embeddings, the LEARNED quality classifier
    (q150's weights, integer-exact margins) keeps predicted-positive
    docs, exact dedup (q20 semantics: min doc_id per normalized-text
    hash) elects representatives among the kept, and the surviving
    corpus is priced in LEARNED-tokenizer tokens (q144's merges applied
    per distinct word, q148 semantics).  Per source: candidate count,
    model-kept count, post-dedup count, and the token budget a trainer
    would actually consume.

    The oracle replays ALL of it — BPE training included — from raw
    tables, so a drift in any composed stage is a red row here even if
    the stage's own query stays green.

    Scale shape: the doc-embedding join is keyed 1:1 on doc_id (bucketed
    at rest at 100 TB); scoring is the map-only BIGINT dot product;
    dedup shuffles (hash, id) only; the tokenizer chain runs over the
    DISTINCT-word vocabulary and broadcasts per-word costs back; the
    final rollup partial-combines to |sources| rows.
    """
    from cosmo_spark.functions.bpe import learned_token_costs
    from cosmo_spark.operators.dedup import normalize_text
    from cosmo_spark.queries.bpe_artifacts import resolve_bpe_merges
    from cosmo_spark.queries.quality_artifacts import (
        margin_expr_spark,
        resolve_quality_weights,
    )

    dim, w = resolve_quality_weights(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    if dim == 0:
        return spark.createDataFrame(
            [], "source string, n_candidates long, n_model_kept long, "
                "n_unique long, token_budget long"
        )
    cand = (
        d.join(
            e.filter(
                F.col("embedding").isNotNull()
                & (F.size("embedding") == dim)
            ).select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
        )
        .select(
            "doc_id", "source", "text",
            F.when(F.expr(margin_expr_spark(dim, w)) >= 0, 1)
            .otherwise(0).alias("kept"),
        )
    )
    hashed = cand.withColumn(
        "th_doc", poly_hash(normalize_text(F.col("text")))
    ).localCheckpoint()
    reps = (
        hashed.filter(F.col("kept") == 1)
        .groupBy("th_doc")
        .agg(F.min("doc_id").alias("rep_id"))
    )
    flags = hashed.join(reps, "th_doc", "left").select(
        "doc_id", "source", "text", "kept",
        F.when(F.col("rep_id") == F.col("doc_id"), 1).otherwise(0)
        .alias("is_rep"),
    ).localCheckpoint()
    # learned per-word token costs over the representatives' vocabulary
    # (q148 discipline: merge passes run vocabulary-sized, costs broadcast)
    rules = resolve_bpe_merges(spark, sf_dir)
    words = flags.filter(F.col("is_rep") == 1).select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("word")
    )
    tokcost = learned_token_costs(words, rules)
    doctok = (
        words.join(F.broadcast(tokcost), "word")
        .groupBy("doc_id")
        .agg(F.sum("n_sym").alias("n_tokens"))
    )
    return (
        flags.join(doctok, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum("kept").cast("long").alias("n_model_kept"),
            F.sum("is_rep").cast("long").alias("n_unique"),
            F.sum(
                F.when(F.col("is_rep") == 1,
                       F.coalesce(F.col("n_tokens"), F.lit(0)))
                .otherwise(0)
            ).cast("long").alias("token_budget"),
        )
    )
