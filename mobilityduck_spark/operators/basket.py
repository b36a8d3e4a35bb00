"""Market-basket analysis: pairwise item co-occurrence with support
pruning and exact lift.

The A-priori first level as ONE corpus shuffle: distinct items per
basket are gathered into a sorted array (`groupBy(basket).collect_set`
— the dedup, the size cap and the pair domain all come from that one
exchange), unordered pairs are generated MAP-SIDE from each array
(`transform`×`slice` — pure Catalyst, codegen, no self-join), and the
only other full-width exchange is the partial-aggregated pair count.
The previous plan self-joined the distinct (basket, item) relation on
the basket key, which cost a distinct shuffle + a size-count shuffle +
a join of the relation against itself PER CONSUMER (margins, basket
count and both join sides each re-derived the subtree: 4 parquet scans
and 6 exchanges at sf0.1).

Scale shape (100 TB): pair volume is sum over baskets of (basket
size)², exactly as before — `max_basket` drops degenerate mega-baskets
BEFORE pair generation (one 1M-item basket is a 10^12-pair bucket).
The aggregation state per group is one basket's distinct item set —
the same rows the old plan shuffled for its distinct — so the cap
guards memory the way it guarded join fan-out. Margins and the basket
count are array-derived aggregates over the persisted capped relation
(single-build via a call-scoped MEMORY_AND_DISK pin, see pins.py);
support pruning happens in the pair aggregate itself, never
materializing sub-support pairs downstream.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..pins import pin

__all__ = ["pair_rules", "item_cosine"]

def _capped_basket_arrays(
    baskets: DataFrame, basket_col: str, item_col: str, max_basket: int
) -> DataFrame:
    """(b, items ARRAY) — distinct items per basket, sorted, baskets
    larger than max_basket dropped. Persisted because pairs, margins
    and the basket count all read it.

    The cap is enforced BEFORE collect_set builds any array: a direct
    groupBy(b).collect_set + size filter materializes a degenerate
    mega-basket's full item set in a single aggregation buffer on one
    executor (and lands the whole basket on one shuffle partition)
    before discarding it. Instead: (1) distinct (b, item) — the one
    corpus-volume exchange, hash-spread over (b, item) so even a
    1M-item basket is spread across partitions, with map-side partial
    dedup; (2) a per-basket count via a Window over b — the window
    sorter spills to disk, never holding per-group state in an
    aggregation buffer; (3) the filter drops over-cap baskets, and only
    then does collect_set run, with its buffer bounded by max_basket.
    The groupBy(b) reuses the window's hashpartitioning(b) — no extra
    exchange.

    NULL boundary (matches the DuckDB oracle exactly): a (basket, NULL)
    row counts toward the basket-size cap (the oracle's COUNT(*) over
    the distinct relation counts it) but never produces pairs or
    consumed margins (collect_set drops NULLs; in the oracle a NULL
    item satisfies no a.i < c.i join and its margin row is never looked
    up)."""
    dist = baskets.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    w = Window.partitionBy("b")
    arr = (
        dist.withColumn("_nd", F.count(F.lit(1)).over(w))
        .filter(F.col("_nd") <= max_basket)
        .groupBy("b")
        .agg(F.sort_array(F.collect_set("i")).alias("items"))
    )
    arr = pin(arr, level=StorageLevel.MEMORY_AND_DISK)
    return arr


def _pair_explode(items: Column | str) -> Column:
    """All unordered pairs (x, y) with x < y from a sorted distinct
    array — generated map-side, no self-join. slice() clamps at the
    array end, so the last element yields no pairs."""
    col = F.col(items) if isinstance(items, str) else items
    return F.explode(
        F.flatten(
            F.transform(
                col,
                lambda x, i: F.transform(
                    F.slice(col, i + F.lit(2), F.size(col)),
                    lambda y: F.struct(
                        x.alias("item_a"), y.alias("item_b")
                    ),
                ),
            )
        )
    )


def _co_counts(arr: DataFrame) -> DataFrame:
    return (
        arr.select(_pair_explode("items").alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_co"))
    )


def _margins(arr: DataFrame) -> DataFrame:
    return (
        arr.select(F.explode("items").alias("i"))
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("m"))
    )


def pair_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket: int = 1000,
    min_support_frac: float | None = None,
) -> DataFrame:
    """Frequent item PAIRS with exact lift: (item_a, item_b, n_co,
    lift_micro) for every unordered pair co-occurring in at least
    `min_support` baskets; lift = n_baskets * n_co / (n_a * n_b),
    micro-quantized. Baskets larger than `max_basket` items are
    dropped before pair generation.

    `min_support_frac` raises the threshold to
    max(min_support, ceil(frac * n_baskets)) — the scale-invariant
    RELATIVE support production A-priori uses, so output stays
    "genuinely frequent pairs" as the corpus grows instead of
    everything that repeats twice."""
    arr = _capped_basket_arrays(baskets, basket_col, item_col, max_basket)
    co = _co_counts(arr)
    margins = _margins(arr)
    n_baskets = arr.agg(F.count(F.lit(1)).alias("nb"))
    if min_support_frac is not None:
        co = co.crossJoin(F.broadcast(n_baskets)).where(
            F.col("n_co")
            >= F.greatest(
                F.lit(min_support),
                F.ceil(F.lit(min_support_frac) * F.col("nb")),
            )
        ).drop("nb")
    else:
        co = co.where(F.col("n_co") >= min_support)
    ma = margins.select(F.col("i").alias("item_a"), F.col("m").alias("m_a"))
    mb = margins.select(F.col("i").alias("item_b"), F.col("m").alias("m_b"))
    return (
        co.join(F.broadcast(ma), "item_a")
        .join(F.broadcast(mb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "n_co",
            F.round(
                F.lit(1e6)
                * (F.col("nb") * F.col("n_co"))
                / (F.col("m_a") * F.col("m_b")).cast("double")
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
        .orderBy("item_a", "item_b")
    )


def item_cosine(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_co: int = 2,
    max_basket: int = 1000,
    min_co_frac: float | None = None,
) -> DataFrame:
    """Item-item cosine similarity over basket co-occurrence — the
    collaborative-filtering neighbor table: for items a, b with basket
    sets A, B, cosine = |A ∩ B| / sqrt(|A| * |B|). Returns (item_a,
    item_b, n_co, n_a, n_b, cos_micro) with item_a < item_b and
    n_co >= min_co.

    The hashed score is micro-quantized from one fixed-order IEEE
    chain n_co / sqrt(n_a * n_b) where every operand is an exact
    BIGINT, so both engines compute the identical double. Same scale
    guards as pair_rules: mega-baskets dropped BEFORE pair generation;
    `min_co_frac` raises the threshold to max(min_co,
    ceil(frac * n_baskets)) — the scale-invariant RELATIVE support
    that keeps the neighbor table "genuinely co-bought pairs" as the
    corpus grows."""
    arr = _capped_basket_arrays(baskets, basket_col, item_col, max_basket)
    co = _co_counts(arr)
    margins = _margins(arr)
    if min_co_frac is not None:
        n_baskets = arr.agg(F.count(F.lit(1)).alias("nb"))
        co = co.crossJoin(F.broadcast(n_baskets)).where(
            F.col("n_co")
            >= F.greatest(
                F.lit(min_co),
                F.ceil(F.lit(min_co_frac) * F.col("nb")),
            )
        ).drop("nb")
    else:
        co = co.where(F.col("n_co") >= min_co)
    ma = margins.select(F.col("i").alias("item_a"), F.col("m").alias("n_a"))
    mb = margins.select(F.col("i").alias("item_b"), F.col("m").alias("n_b"))
    return (
        co.join(ma, "item_a")
        .join(mb, "item_b")
        .select(
            "item_a",
            "item_b",
            F.col("n_co").cast("bigint").alias("n_co"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.lit(1e6) * F.col("n_co")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b")),
            ).cast("bigint").alias("cos_micro"),
        )
    )
