"""Banded LSH self-join: the one candidate generator behind the
near-duplicate families (MinHash, SimHash, hyperplane and Rademacher
embedding LSH).

A family reduces to a keyed relation, one row per (id, band, key) that
also carries whatever its verify reads (a signature, fingerprint
words, a quantized vector), plus a verify expression over a candidate
pair. Two ids are candidates when they share a (band, key) bucket; the
candidate join is an equi-join on the bucket, so it shuffles on
well-spread bucket hashes and never forms all pairs. Pinning, the
verify placement and the bucket cap live here once, so a plan fix to
the join lands in every family.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..pins import pin


def band_rows(df: DataFrame, keys: Sequence[Column]) -> DataFrame:
    """`df` with one row per bucket key, in one explode: every column of
    `df`, then `band` (the key's position in `keys`) and `key`."""
    bk = F.array(
        *[F.struct(F.lit(b).alias("band"), k.alias("key")) for b, k in enumerate(keys)]
    )
    return df.select("*", F.explode(bk).alias("_bk")).select(
        *df.columns, "_bk.band", "_bk.key"
    )


def band_candidates(keyed: DataFrame, block: Sequence[str] = ()) -> DataFrame:
    """Pairs of rows of `keyed` that share (band, key, *block), the left
    row with the smaller id. Every column c of `keyed` appears as c
    (left) and c_b (right); a pair colliding in several bands appears
    once per shared band.

    `keyed` is pinned in the call scope: both join sides read it, and it
    holds the family's costly columns (a signature UDF, plane
    projections), which are then computed once. MEMORY_AND_DISK, so a
    10⁹-row keyed table spills instead of evicting."""
    keyed = pin(keyed, level=StorageLevel.MEMORY_AND_DISK)
    other = keyed.select(*[F.col(c).alias(f"{c}_b") for c in keyed.columns])
    same = [F.col(c) == F.col(f"{c}_b") for c in ("band", "key", *block)]
    on = reduce(lambda a, b: a & b, same) & (F.col("id") < F.col("id_b"))
    return keyed.join(other, on)


def band_pairs(
    keyed: DataFrame, verify: Column, keep: Column, block: Sequence[str] = ()
) -> DataFrame:
    """Distinct candidate pairs (id_a, id_b, verify) with id_a < id_b
    that pass `keep`; `verify` is an aliased expression over the
    columns c and c_b of band_candidates, `keep` a predicate on it.

    Verify runs map-side, BEFORE the pair-dedup exchange: the verified
    value is a pure function of the pair, identical on every band the
    pair collides in, so filter-then-distinct equals dedup-then-verify,
    while the exchange carries one small row per surviving pair instead
    of two signatures per raw bucket collision."""
    return (
        band_candidates(keyed, block)
        .select(F.col("id").alias("id_a"), "id_b", verify)
        .filter(keep)
        .distinct()
    )


def matched_lanes(a: Column, b: Column) -> Column:
    """Number of positions at which arrays `a` and `b` are equal."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq))


def cap_buckets(keyed: DataFrame, n: int | None) -> DataFrame:
    """`keyed` without the buckets (band, key) of more than `n` rows
    (None: no cap): the guard against quadratic boilerplate buckets,
    the bucket analog of the n-gram df-cap. The size is a window count,
    so the lineage stays linear and the keyed columns are computed once
    (a groupBy joined back reads them twice)."""
    if n is None:
        return keyed
    size = F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
    return keyed.withColumn("_bsz", size).filter(F.col("_bsz") <= n).drop("_bsz")
