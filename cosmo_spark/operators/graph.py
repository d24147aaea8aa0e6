"""Distributed triangle counting and related static-graph statistics.

Complements the iterative operators (operators/pagerank.py power iteration,
operators/dedup.py min-label connected components) with the *static*
triangle / clustering-coefficient family — the standard graph-quality
signals a data pipeline computes over similarity and co-occurrence graphs
(spam detection, community density, near-dup cluster diagnostics).

Scale design — degree-oriented wedge join ("compact-forward",
Schank & Wagner 2005; the shape MapReduce/Spark ports such as Cohen 2009
use):

* every undirected edge is oriented from its lower-(degree, id) endpoint to
  the higher one, so each triangle is enumerated EXACTLY once (at its
  lowest-rank corner) and the wedge join is bounded by sum(outdeg^2) =
  O(m^1.5) — the proven bound for triangle enumeration, instead of the
  naive sum(deg^2) which explodes on hubs;
* a hub node (skewed key) therefore never fans out: high-degree endpoints
  receive edges, they do not emit wedges;
* all joins are plain equi-joins on integer keys (node, (b, c)); Catalyst
  hash-partitions them, AQE handles residual skew.  No driver-side state,
  no per-row Python.

No equivalent in the reference (its monitors are tabular, not graph
— nearest neighbor: cosmo/monitors/osm_*_monitors.py trend grouping); this
is part of the training-data-pipeline extension surface alongside
operators/pagerank.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triangle_counts(edges: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Per-node triangle counts of an undirected simple graph.

    ``edges`` must hold each undirected edge once (any endpoint order, no
    duplicates, no self-loops).  Returns ``(node, degree, triangles)`` with
    one row per node that appears in ``edges`` — nodes in no triangle get
    ``triangles = 0``.

    Triangles are enumerated once each via the degree-orientation wedge
    join (see module docstring); per-node counts then credit all three
    corners of every triangle.

    The three multiply-consumed frames are localCheckpointed — the edge
    list (3 scans: two degree-union branches + the degree join), the
    degree table (3: two orientation joins + the output join) and the
    oriented edge list (3: both wedge sides + the closing join) — so the
    upstream edge derivation runs once instead of being re-expanded per
    branch (the q106 lesson).  The call is therefore eager; the returned
    frame reads the checkpoints, which are reclaimed with it.
    """
    e = edges.select(F.col(u).alias("u"), F.col(v).alias("v")).localCheckpoint()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint()
    )
    ed = (
        e.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v")
    )
    # total order on nodes by (degree, id): orient every edge low -> high
    lt = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lt, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lt, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(lt, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    ).localCheckpoint()
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # wedge (a; b, c) with rank(b) < rank(c); rank(dst) = (ddst, dst)
    wedge_lt = (F.col("o1.ddst") < F.col("o2.ddst")) | (
        (F.col("o1.ddst") == F.col("o2.ddst")) & (F.col("o1.dst") < F.col("o2.dst"))
    )
    wedges = o1.join(
        o2, (F.col("o1.src") == F.col("o2.src")) & wedge_lt
    ).select(
        F.col("o1.src").alias("a"),
        F.col("o1.dst").alias("b"),
        F.col("o2.dst").alias("c"),
    )
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tris = wedges.join(closing, ["b", "c"])
    corners = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(corners, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
    )


def kcore_peel(
    edges: DataFrame, k: int, rounds: int, u: str = "u", v: str = "v"
) -> DataFrame:
    """``rounds`` rounds of k-core peeling: repeatedly drop nodes with
    degree < k and restrict the edge set to surviving endpoints
    (Matula & Beck 1983; the standard dense-subgraph / spam-farm screen
    over co-occurrence and similarity graphs).

    Returns ``(node, degree)`` over the subgraph surviving the LAST peel,
    degree computed on the restricted edges — ``min(degree) >= k`` in the
    output certifies the peel converged to the true k-core; a smaller
    minimum means more rounds were needed (bounded-iteration truncation,
    exactly like pagerank()'s fixed power-iteration count, so an unrolled
    SQL oracle can replay it).

    Shape per round: one degree aggregation (map-side combined) + two
    semi-joins of the edge list against the surviving-node set, then a
    localCheckpoint barrier (the q45/q100 iterative discipline — without
    it AQE re-plans a DAG whose depth grows per round).  Edges only ever
    shrink; every shuffle is on integer node keys.
    """
    e = edges.select(F.col(u).alias("u"), F.col(v).alias("v")).localCheckpoint()
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint()
        )
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def copurchase_edges(
    lineitem: DataFrame, sample_mod: int | None = 5
) -> DataFrame:
    """Distinct undirected (u < v) part co-purchase edges: parts adjacent
    iff they appear in the same order — the market-basket graph q116 and
    q119 analyze (ONE definition so the two queries and their oracles can
    never drift).

    ``sample_mod`` applies the DOULION deterministic Bernoulli thinning
    (Tsourakakis et al., KDD 2009): keep an edge iff an integer hash of
    (u, v) lands in 1/sample_mod of the space — reproducible in ANSI SQL,
    the published cost/accuracy lever for superlinear graph statistics.
    None disables sampling.

    Shape: per-order pair explosion bounded by (lines-per-order choose 2),
    the sampling predicate pushes INTO the self-join (plan-gated in
    tests/test_plans.py), and one (u, v) distinct shuffle follows."""
    l = lineitem.filter(
        F.col("l_partkey").isNotNull() & F.col("l_orderkey").isNotNull()
    ).select("l_orderkey", "l_partkey")
    a, b = l.alias("a"), l.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    if sample_mod is None:
        return pairs
    return pairs.filter(
        ((F.col("u") * F.lit(1000003) + F.col("v")) % F.lit(1000000007))
        % F.lit(sample_mod) == F.lit(0)
    )
