"""Skew mitigation: salted two-phase aggregation and salted broadcast joins.

AQE's skew-join splitting (on by default, session.py) handles skewed *sort-
merge joins* automatically; what it cannot split is a single hot group in a
hash aggregation or a hot key in a window.  These helpers implement the
standard structural fix — spread a hot key over N salt buckets, partially
aggregate, then combine — for aggregations whose functions decompose
(sum/count/min/max, and mean as sum+count).

Used when a key's row count is pathological (one user with 10⁸ events, one
mnemonic with the whole telemetry stream).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: decomposable aggregate -> (partial fn, combine fn)
_DECOMPOSABLE = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    group_cols: str | Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation over salted keys.

    ``aggs`` maps output column -> (input column, fn) with fn in
    sum/count/min/max/mean.  Phase 1 groups by (key, salt) — hot keys spread
    over ``n_salts`` reducers; phase 2 combines the tiny partial table.

    Mean decomposes as (sum, count) internally; non-decomposable aggregates
    (exact percentiles) cannot be salted — use sketches instead.
    """
    group_cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    salt = (F.rand(seed=7) * n_salts).cast("int").alias("__salt")

    partial_aggs: list[Column] = []
    combine_aggs: list[Column] = []
    for out, (col, fn) in aggs.items():
        if fn == "mean":
            partial_aggs += [
                F.sum(col).alias(f"__{out}_sum"),
                F.count(col).alias(f"__{out}_cnt"),
            ]
            combine_aggs += [
                (F.sum(f"__{out}_sum") / F.sum(f"__{out}_cnt")).alias(out)
            ]
        elif fn in _DECOMPOSABLE:
            part, comb = _DECOMPOSABLE[fn]
            partial_aggs.append(part(col).alias(f"__{out}_p"))
            combine_aggs.append(comb(f"__{out}_p").alias(out))
        else:
            raise ValueError(f"aggregate {fn!r} is not salt-decomposable")

    partial = df.withColumn("__salt", salt).groupBy(*group_cols, "__salt").agg(
        *partial_aggs
    )
    return partial.groupBy(*group_cols).agg(*combine_aggs)


def salted_broadcast_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
) -> DataFrame:
    """Equi-join a skewed big side against a small side by replicating the
    small side across salt values — every salt bucket of a hot key finds its
    match locally; no single reducer owns the hot key.

    (With AQE skew-split this is rarely needed for SMJ; it remains the fix
    when the join must stay a broadcast and the *probe* side is built into
    an aggregation keyed by the hot key.)
    """
    salted_big = big.withColumn("__salt", (F.rand(seed=7) * n_salts).cast("int"))
    replicated = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_big.join(
        F.broadcast(replicated), [on, "__salt"]
    ).drop("__salt")


def hot_cold_dict_join(
    big: DataFrame,
    dim: DataFrame,
    on: str,
    freq_col: str,
    hot_k: int = 10_000,
) -> DataFrame:
    """Equi-join a Zipf-skewed fact table against a dictionary keyed by
    ``on``, where ``dim[freq_col]`` carries each key's fact-side frequency
    (a vocabulary with corpus counts, a user table with event counts).

    Zipf skew breaks both standard strategies: the hottest keys (stopwords,
    power users) overload single reducers in a shuffle join, while the full
    dictionary of a web-scale corpus (billions of tail tokens) cannot be
    broadcast.  The structural fix is a hot/cold split along the frequency
    ranking itself:

    - the ``hot_k`` most frequent keys — which cover the overwhelming
      majority of fact rows under Zipf — are TakeOrdered'd into a tiny
      table and broadcast, so hot rows resolve map-side with no shuffle;
    - the remaining fact rows (broadcast anti-join, also map-side) carry
      only tail keys, whose per-key cardinality is low by construction, and
      take the ordinary shuffle join without skew.

    The two branches partition the key space, so the union is exactly the
    plain join's result — including when ``dim`` carries duplicate keys: the
    hot set is chosen over *distinct* keys (a raw ``limit(hot_k)`` over rows
    could split one key's rows across the boundary, and the cold anti-join
    would then silently drop that key's non-hot copies).  Costs one extra
    map pass over ``big`` and a TakeOrdered over the key set; buys bounded
    reducers at any corpus size.
    """
    # checkpoint the tiny hot-key set: three branches consume it (hot
    # semi-join, cold anti-join, fact anti-join) and without it each would
    # re-run the dictionary-wide distinct-key aggregation + global top-k
    hot_keys = F.broadcast(
        dim.groupBy(on)
        .agg(F.max(freq_col).alias("__hot_freq"))
        .orderBy(F.col("__hot_freq").desc(), F.col(on))
        .limit(hot_k)
        .select(on)
        .localCheckpoint()
    )
    hot_dim = F.broadcast(dim.join(hot_keys, on, "left_semi"))
    # hot keys are matchless on the cold side by construction — anti-join
    # them out of the dictionary too, shrinking the cold join's build side
    cold_dim = dim.join(hot_keys, on, "left_anti")
    hot_rows = big.join(hot_dim, on)
    cold = big.join(hot_keys, on, "left_anti").join(cold_dim, on)
    return hot_rows.unionByName(cold)
