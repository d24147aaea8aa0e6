"""Deduplication operators for training-data pipelines.

Beyond the reference's surface (its only dedup is
``drop_duplicates(subset=['ROOTNAME'])``, ref: cosmo/monitor_helpers.py:154),
these are the large-scale document-dedup primitives: exact hash dedup,
MinHash+LSH banding, SimHash, and n-gram Jaccard verification.

Scale design:
- exact dedup: groupBy on a short hash of the normalized text — shuffles the
  hash + doc id only, never the full text;
- MinHash/LSH: signatures are per-row array expressions (no shuffle);
  candidate generation shuffles (band_idx, band_hash) pairs — tiny rows —
  and only candidate pairs are verified;
- all hashes are deterministic arithmetic (poly_hash), so results are
  engine-reproducible (and DuckDB-oracle testable).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cosmo_spark.functions.text import (
    HASH_MOD,
    minhash_signature,
    poly_hash,
    shingle_hashes_from_token_hashes,
    token_hashes,
    tokenize,
)
from cosmo_spark.session import persisted

#: deterministic (a, b) parameter pairs for MinHash permutations
def minhash_perms(n: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic LCG-generated permutation parameters (no RNG state)."""
    perms, x = [], seed
    for _ in range(n):
        x = (x * 1103515245 + 12345) % (2**31)
        a = (x % (HASH_MOD - 1)) + 1
        x = (x * 1103515245 + 12345) % (2**31)
        b = x % HASH_MOD
        perms.append((a, b))
    return perms


def normalize_text(col):
    """Lowercase + collapse whitespace — canonical form for exact dedup."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup on normalized text: keep one representative id per group.

    Returns (group_hash, rep_id, n_dups).  GroupBy runs on the 64-bit-ish
    polynomial hash of the normalized text, so the shuffle carries ~16 bytes
    per row; hash collisions are disambiguated by a secondary length key.
    """
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    norm = normalize_text(F.col(text_col))
    return (
        df.select(
            poly_hash(norm).alias("text_hash"),
            F.length(norm).cast("long").alias("text_len"),
            F.col(id_col),
        )
        .groupBy("text_hash", "text_len")
        .agg(agg.alias("rep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingle_table(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 3
) -> DataFrame:
    """(id, sh) with the distinct shingle-hash array per document.

    Compute once and share between candidate generation and Jaccard
    verification — shingle hashing is the expensive per-row step (interpreted
    higher-order expressions over every character).

    Staged projections keep the token-hash array a bound column so each
    token is hashed exactly once (see shingle_hashes_from_token_hashes).
    The empty-doc filter runs on size(__th) BEFORE the shingle fold: a
    predicate on the fold output would be pushed through the projection,
    re-inlining the token-hash transform into the per-shingle lambda
    (O(tokens²) hashing).
    """
    return (
        df.select(
            F.col(id_col).alias("__id"), tokenize(F.col(text_col)).alias("__toks")
        )
        # filter on the TOKEN array, before hashing: predicate pushdown will
        # substitute the filtered expression into the scan-side predicate, so
        # whatever it references is computed twice — cheap for tokenize,
        # expensive for token hashing
        .filter(F.size("__toks") >= shingle_n)
        .select("__id", token_hashes("__toks").alias("__th"))
        .select(
            "__id", shingle_hashes_from_token_hashes("__th", shingle_n).alias("sh")
        )
    )


def band_table(
    shingles: DataFrame, n_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc, band_idx, band_hash) LSH band rows from a ``shingle_table``.

    MinHash signature (``n_hashes`` permutations) split into ``bands``
    bands, each band folded to one polynomial hash — all per-row
    expressions, no shuffle.  Shared by the within-corpus candidate join
    (minhash_candidates) and the cross-corpus incremental-dedup probe
    (q79): the band rows are the LSH index, independent of what joins them.
    """
    if n_hashes % bands:
        raise ValueError("n_hashes must divide evenly into bands")
    rows_per_band = n_hashes // bands
    perms = minhash_perms(n_hashes)
    sig = shingles.select(
        F.col("__id").alias("doc"), minhash_signature("sh", perms).alias("sig")
    )
    # band hash = polynomial fold of the band's signature slice
    return sig.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.aggregate(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                    F.lit(0).cast("long"),
                    lambda acc, h: (acc * 31 + h) % F.lit(HASH_MOD),
                ),
            )
        ).alias("band_idx", "band_hash"),
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding: candidate near-duplicate id pairs.

    Pipeline: tokenize → n-gram shingles → distinct poly-hashes → minhash
    signature (n_hashes) → split into ``bands`` bands → hash each band →
    self-join on (band_idx, band_hash) → distinct pairs (id_a < id_b).

    Docs with empty shingle sets never become candidates.  Pass a cached
    ``shingle_table`` as ``shingles`` to amortize hashing across operators.
    """
    if shingles is None:
        shingles = shingle_table(df, text_col, id_col, shingle_n)
    band = band_table(shingles, n_hashes, bands)
    other = band.select(
        F.col("doc").alias("doc_b"), "band_idx", "band_hash"
    )
    pairs = (
        band.join(other, ["band_idx", "band_hash"])
        .filter(F.col("doc") < F.col("doc_b"))
        .select(F.col("doc").alias("id_a"), F.col("doc_b").alias("id_b"))
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    candidate_pairs: DataFrame | None = None,
    shingle_n: int = 3,
    threshold: float = 0.0,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Jaccard similarity of distinct shingle-hash sets for id pairs.

    With ``candidate_pairs`` (columns id_a, id_b) only those pairs are
    verified — the MinHash-then-verify pattern; otherwise all pairs
    (quadratic — small inputs only).
    """
    sh = shingles if shingles is not None else shingle_table(
        df, text_col, id_col, shingle_n
    )
    a = sh.select(F.col("__id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("sh").alias("sh_b"))
    if candidate_pairs is not None:
        pairs = candidate_pairs.join(a, "id_a").join(b, "id_b")
    else:
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def cross_dedup(
    incoming: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental dedup: flag incoming docs that near-duplicate the stored
    corpus — the ingest-time shape of MinHash dedup (an asymmetric probe,
    not the within-corpus self-join).

    Band rows (band_table) are built for both sides; candidates are the
    incoming⋈corpus equi-join on (band_idx, band_hash); candidates verify
    with exact shingle-set Jaccard; every incoming doc comes back with its
    candidate count, best Jaccard, and ``kept`` (no corpus match ≥
    ``threshold``).

    Scale: the corpus side of the band join is the persisted LSH index of
    the stored corpus — at 100 TB it lives bucketed-by-band_hash at rest
    and each ingest batch shuffles only ITS band rows into it; the verify
    join touches candidate pairs only.  Nothing is quadratic and the stored
    corpus is never rescanned per batch beyond the index probe.
    """
    # each shingle table feeds TWO consumers (its band rows and the Jaccard
    # verify side); per-character shingle hashing is the dominant cost, so
    # both are pinned — but only while the per-doc verdict table
    # localCheckpoints (it is bounded at one row per incoming doc).  The
    # checkpoint cuts the returned frame's lineage from the shingle tables,
    # so repeated calls in a long-lived session never pin CORPUS-sized
    # cached partitions.  The call is therefore EAGER (the checkpoint runs
    # the shingle/band/verify jobs at construction time), and the small
    # checkpoint RDD is reclaimed with the returned frame.
    with persisted(
        shingle_table(incoming, text_col, id_col, shingle_n),
        shingle_table(corpus, text_col, id_col, shingle_n),
    ) as (sh_inc, sh_cor):
        b_inc = band_table(sh_inc, n_hashes, bands)
        b_cor = band_table(sh_cor, n_hashes, bands).select(
            F.col("doc").alias("doc_b"), "band_idx", "band_hash"
        )
        cand = (
            b_inc.join(b_cor, ["band_idx", "band_hash"])
            .select(F.col("doc").alias("id_a"), F.col("doc_b").alias("id_b"))
            .distinct()
        )
        a = sh_inc.select(F.col("__id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh_cor.select(F.col("__id").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        verified = (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .withColumn("jaccard", inter / union)
        )
        per_doc = verified.groupBy("id_a").agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.max("jaccard").alias("max_jaccard"),
        ).localCheckpoint()  # eager; one row per incoming doc
    return (
        incoming.select(F.col(id_col).alias("id_a"))
        .join(per_doc, "id_a", "left")
        .select(
            F.col("id_a").alias(id_col),
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
            "max_jaccard",
            (
                F.col("max_jaccard").isNull()
                | (F.col("max_jaccard") < threshold)
            ).alias("kept"),
        )
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash document fingerprint: sign-aggregated token-hash bits.

    For each bit position i, sum +1/-1 over token hashes' bit i; the
    fingerprint sets bit i when the sum is positive.

    Formulated long-form for codegen: explode tokens, hash each token once
    (interpreted HOF, but exactly once per token), then ``bits`` conditional
    SUM aggregates — whole-stage-codegen'd and map-side combinable, so the
    shuffle carries one partial row per (partition, doc), not per token.
    The per-row HOF formulation re-walked every token ``bits`` times.
    """
    toks = df.select(
        F.col(id_col).alias("__id"), F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    hashed = toks.select("__id", _tok_hash(F.col("tok")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy("__id").agg(*votes)
    fp = None
    for i in range(bits):
        term = F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(0)
        fp = term if fp is None else fp + term
    return agg.select(F.col("__id").alias(id_col), fp.alias("simhash"))


def _tok_hash(t):
    return poly_hash(t)


def duplicate_clusters(
    pairs: DataFrame, max_iterations: int = 20,
    driver_max_edges: int = 500_000,
) -> DataFrame:
    """Connected components over near-duplicate pairs: (id, cluster) where
    cluster is the minimum id reachable through the pair graph.

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(diameter) rounds (duplicate clusters are near-cliques from LSH, so
    diameter is tiny).  Each round is one shuffle on the node id; the loop
    is driver-side control flow over small label tables, not collected data.

    Graphs at or below ``driver_max_edges`` symmetrized edges short-circuit
    to a driver-side union-find over the collected edge list (r13, guide
    §5: the per-round job overhead of the distributed loop — join,
    checkpoint, convergence probe — dwarfs the label work on small pair
    graphs; the robust.py collect-and-recreate precedent).  The result is
    bit-identical (each node labelled with the minimum reachable id); the
    iterative path remains the 100 TB route and the edge count that picks
    the path is computed either way.  Pass ``driver_max_edges=0`` to force
    the distributed loop.

    Driver-memory note (ADVICE r13): the cap counts EDGES, not bytes —
    at the 500k default the collect pulls ~100 MB of Row objects for long
    ids and several times that for long string ids.  The catalog's pair
    ids are integers; callers clustering wide string keys should lower
    ``driver_max_edges`` (or pass 0) to keep the collect inside their
    driver budget.

    Input columns: id_a, id_b. Output: one row per node appearing in pairs.
    """
    # pin the DIRECTIONAL pair list while it is read: the path gate (one
    # count), the driver-path collect, and the distributed path's edge
    # build all read it, and its upstream (MinHash + Jaccard verification)
    # must not be recomputed per consumer.  The symmetrize+distinct shuffle
    # is paid ONLY on the distributed path — union-find treats each pair
    # row as an undirected edge, so duplicates and orientation are
    # irrelevant to it (r14: the symmetrized-distinct materialization was
    # ~2 s of the q125/q136 closure at sf0.1 for a 1.5k-edge graph).
    with persisted(pairs.select("id_a", "id_b")) as plist:
        n_pairs = plist.count()
        # gate on the symmetrized-edge bound (2 pairs per undirected edge)
        # so the threshold keeps its historical meaning; the collect itself
        # pulls only n_pairs two-column rows — at most half the old count
        driver_path = 2 * n_pairs <= driver_max_edges
        if driver_path:
            rows = plist.collect()
        else:
            # distributed label propagation needs the symmetrized distinct
            # edge list (each round joins neighbors by src); checkpointed
            # from the pinned pair list, so the pair pipeline runs exactly
            # once and every round reads a lineage-free leaf
            edges = (
                plist.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
                .unionByName(
                    plist.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
                )
                .distinct()
                .localCheckpoint()
            )
    if driver_path:
        from pyspark.sql.types import StructField, StructType

        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:      # path compression
                parent[x], x = r, parent[x]
            return r

        for row in rows:
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                parent[rb] = ra
        comp_min: dict = {}
        nodes = set()
        for row in rows:
            nodes.add(row[0])
            nodes.add(row[1])
        for x in nodes:
            r = find(x)
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        id_type = pairs.schema["id_a"].dataType
        out_schema = StructType([
            StructField("id", id_type, False),
            StructField("cluster", id_type, False),
        ])
        return pairs.sparkSession.createDataFrame(
            [(x, comp_min[find(x)]) for x in sorted(nodes)], out_schema
        )
    # size the per-round tables to the graph, not the session default —
    # near-dup graphs are usually tiny relative to the corpus, and every
    # propagation round pays per-partition task overhead
    n_edges = edges.count()
    n_parts = max(1, min(n_edges // 500_000, 2000) or 1)
    edges = edges.coalesce(n_parts)
    # the label table is bounded by the node count (≤ 2·edges); when the
    # graph fits the broadcast budget, ship labels to the edge partitions
    # instead of shuffling both sides every round
    bcast = n_edges < 2_000_000
    side = F.broadcast if bcast else (lambda df: df)
    # initial labels already absorb the first propagation round: with
    # labels == ids, round 0's neighbor-min is just min(dst) per src — a
    # groupBy on the edge list, one full join+shuffle iteration saved
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("nmin"))
        .select("id", F.least(F.col("id"), F.col("nmin")).alias("cluster"))
        .coalesce(n_parts)
        .localCheckpoint()  # truncate lineage at the loop entry
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(side(labels), edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster").alias("nmin"))
        )
        propagated = (
            labels.join(side(neighbor_min), labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster")))
                 .alias("cluster"),
                F.col("cluster").alias("prev"),
            )
        )
        # pointer jumping: also adopt the label OF my current label —
        # halves the remaining distance to the component minimum each round
        # (O(log diameter) total instead of O(diameter); a bare neighbor-min
        # loop silently under-converges on long path graphs)
        parent = propagated.select(
            F.col("id").alias("pid"), F.col("cluster").alias("pcluster")
        )
        # localCheckpoint each round: without it the plan (and per-round
        # recompute cost) grows with iteration count — the standard
        # iterative-algorithm discipline on Spark
        updated = (
            propagated.join(side(parent), propagated.cluster == parent.pid, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("pcluster"), F.col("cluster"))
                ).alias("cluster"),
                "prev",
            )
            .coalesce(n_parts)
            .localCheckpoint()
        )
        # convergence check: `prev` (the label at round entry) rides along
        # through both joins, so this is a narrow filter over the
        # just-materialized table — no extra shuffle join against the old
        # labels, and it works for any orderable id type
        changed = (
            updated.filter(F.col("cluster") != F.col("prev")).limit(1).count()
        )
        labels = updated.drop("prev")
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iterations} rounds "
            "— raise max_iterations (components with diameter > 2^rounds)"
        )
    return labels


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
    dim: int | None = None,
    max_block: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold``.

    With ``block_col`` the quadratic join is restricted to same-block pairs
    (e.g. an LSH bucket or coarse cluster id) — the scale path; without it,
    all-pairs (small inputs only).

    ``max_block`` (round-11 verdict #1 — the catalog's one measured scale
    killer was this operator's unguarded hot block) bounds PER-TASK work
    when a blocking attribute runs hot: each block of n rows is salted
    into ``s = ceil(n / max_block)`` sub-blocks by content hash, and the
    self-join fans out over the s·(s+1)/2 triangular sub-block PAIRS
    instead of landing the whole block in one reducer.  Semantics are
    EXACTLY unchanged — every same-block pair still meets exactly once
    (pair {x,y} with salts p ≤ q meets only in task (p,q)), so this is a
    parallelism guard, not an approximation: total compare count stays
    inherently quadratic in the hot block (that IS the exact-output
    contract), but no task exceeds ~``max_block``² compares and
    wall-clock scales with cores again.  Row replication cost is s+1
    copies of each hot-block row across the two join sides; in-bound
    blocks get s = 1 and degenerate to the unsalted single task.  When
    total work itself must shrink, trade recall for it with content
    blocking: :func:`srp_lsh_near_dups` (q55), whose bucket size is
    corpus-independent.

    ``dim`` (the embedding length) switches the per-pair cosine from the
    interpreted ``zip_with``/``aggregate`` fold to the q86 shape: vectors
    are unpacked ONCE per row (linear, pre-join) into bound element
    columns, and the per-pair dot is a string-built plain-arithmetic ``+``
    chain over those columns — pure whole-stage codegen on the quadratic
    path.  Measured at sf0.1 (60 k pairs/block): 0.5 s vs 1.2 s for the
    HOF fold vs 3.9 s for a post-join ``element_at`` chain (per-access
    null checks ×128 lose to both).  The fold order is the same
    left-associated ascending-index sum as the HOF/oracle, so results are
    bit-identical.  When ``dim`` is omitted it is probed as the table's
    single distinct length (one bounded groupBy job; mixed lengths raise
    — pass ``dim`` to choose).  The norm stays a HOF — once per VECTOR.
    """
    from cosmo_spark.functions.vectors import as_double, l2_norm

    base = df.select(
        F.col(id_col).alias("__id"),
        as_double(F.col(vec_col)).alias("__v"),
        *( [F.col(block_col).alias("__blk")] if block_col else [] ),
    ).withColumn("__n", l2_norm("__v"))  # norm once per vector, not per pair
    if dim is None:
        # modal length, not limit(1): an unordered first row would decide
        # dim arbitrarily on a mixed-length table and silently filter out
        # every other length (ADVICE r5) — the groupBy is over at most a
        # handful of distinct lengths, so the collect is bounded
        sizes = (
            base.filter(F.col("__v").isNotNull())
            .groupBy(F.size("__v").alias("d")).count().collect()
        )
        if len(sizes) > 1:
            raise ValueError(
                "embedding_near_dups: mixed embedding lengths "
                f"{sorted((r['d'], r['count']) for r in sizes)}; pass dim= "
                "explicitly to select which length to dedup"
            )
        dim = sizes[0]["d"] if sizes else 0
    blk = ["__blk"] if block_col else []
    # size guard before unpacking: under ANSI mode element_at past the end
    # ABORTS the job, where the old HOF fold null-dropped the pair — one
    # truncated vector must not kill a corpus-wide dedup (the pq_encode
    # filter discipline; mismatched-length vectors can never clear the
    # cosine threshold meaningfully anyway)
    if max_block is not None and not block_col:
        raise ValueError(
            "embedding_near_dups: max_block bounds per-BLOCK fan-out and "
            "needs block_col; for unblocked inputs use srp_lsh_near_dups"
        )
    # the dim-wide unpack and the two join sides ride selectExpr / qualified
    # references instead of per-column F.element_at/alias chains: the old
    # formulation issued ~4·dim py4j round-trips per call (measured ~1.4 s
    # of pure driver-side construction at dim=64 — the srp_lsh planes_lit
    # lesson applied to column lists)
    base = base.filter(F.size("__v") == dim).selectExpr(
        "__id", "__n", *blk,
        *[f"element_at(__v, {i + 1}) AS __x{i}" for i in range(dim)],
    )
    if max_block is not None:
        # adaptive salt width per block: one bounded aggregate over the
        # blocking key (partial agg, ≤ |blocks| rows broadcast back), so
        # only the blocks that actually run hot pay any fan-out
        widths = base.groupBy("__blk").agg(
            F.ceil(F.count(F.lit(1)) / F.lit(int(max_block)))
            .cast("int").alias("__s")
        )
        salted = base.join(F.broadcast(widths), "__blk").withColumn(
            "__u", F.pmod(F.xxhash64("__id"), F.col("__s")).cast("int")
        )
        # each side keeps the shared column names; the salt coordinates are
        # the only per-side projections (diagonal-triangle fan-out: row with
        # salt u meets tasks (u, u..s-1) on the a side, (0..u, u) on the b)
        a = salted.selectExpr(
            "*", "__u AS __i",
            "explode(sequence(__u, __s - 1)) AS __j",
        ).alias("a")
        b = salted.selectExpr(
            "*", "explode(sequence(0, __u)) AS __i", "__u AS __j",
        ).alias("b")
        keys = ["__blk", "__i", "__j"]
    else:
        salted = None
        a, b = base.alias("a"), base.alias("b")
        keys = ["__blk"] if block_col else []
    pairs = a.join(b, keys) if keys else a.crossJoin(b)
    denom = F.col("a.__n") * F.col("b.__n")
    dot_ab = (
        F.expr(" + ".join(f"(a.__x{i} * b.__x{i})" for i in range(dim)))
        if dim else F.lit(None).cast("double")
    )
    if salted is not None:
        # diagonal tasks (i == j) see both orderings of a pair — the id
        # filter picks one; off-diagonal tasks see exactly one ordering
        # (arbitrary), so the ids are normalized afterwards
        kept = pairs.filter(
            (F.col("__i") < F.col("__j"))
            | (F.col("a.__id") < F.col("b.__id"))
        )
        return (
            kept.withColumn("cos_sim", F.when(denom > 0, dot_ab / denom))
            .filter(F.col("cos_sim") >= threshold)
            .select(
                F.least("a.__id", "b.__id").alias("id_a"),
                F.greatest("a.__id", "b.__id").alias("id_b"),
                "cos_sim",
            )
        )
    return (
        pairs.filter(F.col("a.__id") < F.col("b.__id"))
        .withColumn("cos_sim", F.when(denom > 0, dot_ab / denom))
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            "cos_sim",
        )
    )


def srp_lsh_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: Sequence[Sequence[int]],
    *,
    bands: int,
    bits_per_band: int,
    threshold: float,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs via signed-random-projection LSH —
    content-based blocking (no label needed), the 100 TB replacement for
    ``embedding_near_dups``'s quadratic-within-block join.

    ``planes`` is ``bands * bits_per_band`` rows of ±1 literals (caller owns
    determinism so a SQL oracle can replay the identical banding).  Each
    vector gets one sign bit per plane; the bits split into ``bands`` codes
    of ``bits_per_band`` bits, and only vectors agreeing on a whole band
    code ever meet in the join, where the exact cosine verifies candidates.

    Scale geometry: collision probability per bit is 1 - θ/π, so a band
    only fires for genuinely aligned vectors once ``bits_per_band`` is deep
    enough — at the default 8×16 (q55), a random pair collides with
    p ≈ 0.5^16 per band (~1e-4 of all pairs become candidates) while a
    cos-0.95 pair still collides in some band with p ≈ 0.80.  Few-bit bands
    (e.g. 6 bits = 64 codes) are a scale trap: they bound the *number* of
    buckets, not their size, and bucket population grows as n/2^bits with a
    quadratic join inside.

    ``max_bucket`` is the loud guard for adversarial/degenerate corpora
    (e.g. millions of identical vectors land in one bucket no matter the
    geometry): bucket populations are counted on the signature table —
    partial agg, same shuffle key as the join — and any bucket over the
    limit fails the job with the offending size in the error, the
    ``duplicate_clusters`` non-convergence discipline.  The count table
    (≤ bands·2^bits rows) is broadcast back onto the join input, so the
    guard costs one small aggregation, never a second pass over vectors.

    The plane matrix enters the plan as ONE nested-array literal and the
    signature is ``transform(planes, p -> sign(dot(v, p)))`` — a constant-
    size expression tree no matter how many planes.  (The tempting
    alternative — unrolling one expression chain per plane — compiles a
    4096-node tree at 8×16 and stalls Catalyst/codegen for a minute.)  The
    dot is the elementwise ``zip_with``/``aggregate`` fold of
    functions.vectors.dot, ascending-index summation, the exact shape the
    q32/q33 oracles already hash-match against DuckDB's
    ``list_sum(list_transform(list_zip(..)))``.
    """
    from cosmo_spark.functions.vectors import as_double, dot, l2_norm

    if len(planes) != bands * bits_per_band:
        raise ValueError(
            f"need {bands * bits_per_band} planes for {bands}x{bits_per_band} "
            f"banding, got {len(planes)}"
        )
    e = df.select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    )
    # build the plane literal as ONE SQL expression string: F.lit() on a
    # nested python list issues a py4j call per element (~8300 at 8x16 —
    # measured 4-6 s of pure driver-side plan construction); the parser
    # ingests the same literal in milliseconds
    planes_lit = F.expr(
        "array(" + ", ".join(
            "array(" + ", ".join(f"{float(v)}D" for v in plane) + ")"
            for plane in planes
        ) + ")"
    )
    # __sig lands in its own projection: transform() is not collapse-cheap,
    # so Catalyst keeps it evaluated once per row even though 8 band slices
    # reference it downstream
    sigged = e.select(
        "__id", "__v",
        l2_norm("__v").alias("__n"),  # once per vector, below the join
        F.transform(
            planes_lit,
            lambda p: F.when(dot(F.col("__v"), p) > 0, 1).otherwise(0),
        ).alias("__sig"),
    )
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.aggregate(
                F.slice("__sig", b * bits_per_band + 1, bits_per_band),
                F.lit(0),
                lambda acc, x: acc * 2 + x,
            ).alias("code"),
        )
        for b in range(bands)
    ])
    banded = (
        sigged.select("__id", "__v", "__n", F.explode(band_structs).alias("bc"))
        .select("__id", "__v", "__n",
                F.col("bc.band").alias("band"), F.col("bc.code").alias("code"))
        # explicit exchange on the join key: without it Catalyst collapses
        # the projection into both join sides and every signature dot is
        # re-evaluated per PAIR instead of per vector; with it signatures
        # materialize once and AQE reuses the exchange for both sides.
        # bands·2^bits distinct keys (524k at 8×16) ≫ any realistic task
        # count, so this does NOT cap shuffle parallelism the way a
        # few-bit geometry would.
        .repartition("band", "code")
        # checkpoint: three consumers read this table (the bucket-size
        # guard aggregation and both self-join sides) and the
        # broadcast-guard rewrite defeats plain exchange reuse between
        # them — measured 3x signature recompute (7.3s -> 3.5s at sf0.1)
        # without materialising it.  Same multi-consumer discipline as
        # q58's vocab; the returned pairs read it, so it is checkpointed
        # (reclaimed with the frame), not pinned in the CacheManager.
        .localCheckpoint()
    )
    if max_bucket is not None:
        # partial agg on the already-partitioned key, then a broadcast join
        # back; assert_true raises executor-side with the offending count.
        # NOTE broadcast ceiling: `sizes` can carry up to bands * 2^bits
        # rows (524k at 8x16, a few MB) — fine today, but bits_per_band
        # growth is capped by the broadcast threshold; swap the broadcast
        # for a left-semi join on (band, code) if the geometry ever deepens
        # past ~20 bits/band.
        sizes = banded.groupBy("band", "code").agg(
            F.count(F.lit(1)).alias("__bucket_n")
        )
        guard = sizes.filter(
            F.assert_true(
                F.col("__bucket_n") <= max_bucket,
                F.concat(
                    F.lit("srp_lsh_near_dups: bucket (band="), F.col("band"),
                    F.lit(", code="), F.col("code"), F.lit(") holds "),
                    F.col("__bucket_n"),
                    F.lit(f" > max_bucket={max_bucket} vectors — quadratic "
                          "blow-up; deepen bits_per_band or pre-split the "
                          "degenerate group"),
                ),
            ).isNull()
        ).drop("__bucket_n")
        banded = banded.join(F.broadcast(guard), ["band", "code"])
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            (dot(F.col("a.__v"), F.col("b.__v"))
             / (F.col("a.__n") * F.col("b.__n"))).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    # a pair can collide in several bands; one row per pair
    return pairs.groupBy("id_a", "id_b").agg(F.max("sim").alias("cos_sim"))
