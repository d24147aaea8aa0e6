"""Bloom-filter semi-join — the scale path for membership prefilters.

q59-style decontamination broadcasts the eval gram set; that is right while
the set fits the broadcast threshold.  When the filter side outgrows it (a
benchmark suite of millions of documents, a blocklist of billions of URLs),
the structural fix is a Bloom filter: a BITSET summary of the filter side —
thousands of times smaller than the set itself — broadcasts instead, rows
that cannot match are dropped map-side (no false negatives, bounded false
positives), and only the surviving sliver pays the exact shuffle semi-join.

Spark's own runtime row-level filtering does exactly this internally
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) but only injects it
under join-selectivity heuristics and exposes no public ``bloom_filter_agg``
— so this operator builds the same machinery from public primitives:
``xxhash64(value, seed)`` for k independent hashes, ``bit_or`` partial
aggregation for the bitset words (map-side combinable — the filter build is
ONE corpus-scale aggregate whose output is n_bits/64 rows), and a
``map<long, long>`` packed into one broadcastable row.  Probing is pure
codegen expression work: no UDF, no collect.

Sizing: false-positive rate ~= (1 - e^(-k*n/m))^k; the 1 MiB default
(m = 2^23 bits, k = 4) holds ~1M members at ~2.4% FP.  At 100 TB you size m
to the filter-side cardinality estimate — the broadcast payload is m/8
bytes regardless of member count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_BITS = 1 << 23
DEFAULT_HASHES = 4


def _positions(value: Column, n_bits: int, n_hashes: int) -> list[Column]:
    """k bit positions for a value: pmod(xxhash64(value, seed), m)."""
    return [
        F.pmod(F.xxhash64(value, F.lit(seed)), F.lit(n_bits))
        for seed in range(n_hashes)
    ]


def bloom_build(
    keys: DataFrame,
    on: str,
    n_bits: int = DEFAULT_BITS,
    n_hashes: int = DEFAULT_HASHES,
) -> DataFrame:
    """Aggregate ``keys[on]`` into a one-row DataFrame with column ``bf``:
    a ``map<long, long>`` from 64-bit word index to word bits.

    The build is fully distributed: bit positions explode row-locally,
    ``bit_or`` combines words map-side, and only n_bits/64 (word, bits)
    rows reach the final single-row pack — the corpus never funnels
    through one reducer.
    """
    pos = keys.select(
        F.explode(F.array(*_positions(F.col(on), n_bits, n_hashes))).alias(
            "__pos"
        )
    )
    words = pos.select(
        (F.col("__pos") / 64).cast("long").alias("__word"),
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), (F.col("__pos") % 64).cast("int")
        ).alias("__mask"),
    ).groupBy("__word").agg(F.bit_or("__mask").alias("__bits"))
    return words.agg(
        F.map_from_entries(
            F.collect_list(F.struct("__word", "__bits"))
        ).alias("bf")
    )


def might_contain(
    bf: Column | str, value: Column, n_bits: int, n_hashes: int
) -> Column:
    """True if ``value`` MAY be in the filter (no false negatives)."""
    bf = F.col(bf) if isinstance(bf, str) else bf
    cond = F.lit(True)
    for p in _positions(value, n_bits, n_hashes):
        word = (p / 64).cast("long")
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        cond = cond & (
            F.coalesce(F.element_at(bf, word), F.lit(0).cast("long")).bitwiseAND(mask)
            != 0
        )
    return cond


def bloom_semi_join(
    big: DataFrame,
    keys: DataFrame,
    on: str,
    n_bits: int = DEFAULT_BITS,
    n_hashes: int = DEFAULT_HASHES,
) -> DataFrame:
    """EXACT semi-join of ``big`` against ``keys`` on column ``on``, with a
    broadcast Bloom prefilter so non-members drop map-side before the
    shuffle.

    Result rows are identical to ``big.join(keys, on, "left_semi")`` — the
    prefilter has no false negatives, and survivors (true members plus the
    bounded false-positive sliver) are re-checked by a real shuffle
    semi-join.  Use when ``keys`` is too large to broadcast: what ships to
    every executor is the m/8-byte bitset, and what shuffles is only the
    prefiltered sliver of ``big``.
    """
    # keys has exactly two consumers (bitset build + exact re-check); without
    # materialising it each would recompute the full filter-side lineage —
    # for the decontamination case that is a second corpus-wide
    # tokenize+hash pass.  Checkpointed, not pinned: the returned frame
    # reads it, and the checkpoint is reclaimed with that frame.
    keys = keys.localCheckpoint()
    bf = bloom_build(keys, on, n_bits, n_hashes)
    pre = big.join(F.broadcast(bf)).filter(
        might_contain("bf", F.col(on), n_bits, n_hashes)
    ).drop("bf")
    return pre.join(keys, on, "left_semi")
