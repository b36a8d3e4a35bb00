"""Interval-overlap (range) joins and the 2-D grid-bucketed spatial
pair join.

The reference executes `t.Trip && p.Period` joins as BLOCKWISE_NL_JOIN /
CROSS_PRODUCT with one C call per pair (SURVEY.md §2.0). Here the
predicate expands to range comparisons, and we pick the physical
strategy explicitly:

- broadcast theta-join when one side is small (Catalyst turns the range
  predicate into BroadcastNestedLoopJoin with an early filter);
- bucketed equi-join for large×large: explode each interval into the
  fixed-width time buckets it covers, equi-join on bucket id (a plain
  shuffled hash join that partitions evenly), then post-filter the exact
  overlap and drop bucket-duplicated pairs by keeping the pair only in
  the FIRST shared bucket. At 100 TB this is the plan that survives:
  shuffle keys are bucket ids (bounded skew for bounded interval length),
  no cartesian blowup.
- grid-bucketed candidate join for large×large TRAJECTORY-pair
  predicates (eDwithin shape, bm_q6/q10): explode each trajectory into
  the (time-bucket, cellx, celly) grid keys its segments cover — one
  side expanded by the distance threshold — equi-join on the key,
  DISTINCT the id pairs, then let the caller run the exact pairwise
  kernel on the (small) candidate set. Completeness holds for ANY cell
  size: if ‖a(t)−b(t)‖ ≤ d then b(t)'s cell is covered by b's segment
  bbox at tb(t) and by a's d-expanded segment bbox at tb(t), so the
  sides share a key. Cell size only tunes candidate-set density.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucketed_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bucket_width_secs: int = 86400,
) -> DataFrame:
    """Large×large interval join without a cartesian product.

    Each row explodes to its covered bucket ids; the equi-join on bucket
    id shuffles both sides on the same key; the exact `[lo, hi)` overlap
    plus a first-shared-bucket guard dedups pairs. Returns left.* ++
    right.* for overlapping pairs.
    """
    w = F.lit(bucket_width_secs)

    # floor, not cast('long'): cast truncates toward zero, so pre-1970
    # timestamps would bucket off-by-one and disagree with first_shared
    def bucket_of(c: str):
        return F.floor(F.unix_seconds(F.col(c)) / w).cast("long")

    def with_buckets(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            "_bucket", F.explode(F.sequence(bucket_of(lo), bucket_of(hi)))
        )

    lb = with_buckets(left, left_lo, left_hi)
    rb = with_buckets(right, right_lo, right_hi).withColumnRenamed(
        "_bucket", "_rbucket"
    )
    exact = (F.col(left_lo) < F.col(right_hi)) & (F.col(right_lo) < F.col(left_hi))
    # keep each overlapping pair only in the first bucket both cover
    first_shared = F.col("_bucket") == F.greatest(
        bucket_of(left_lo), bucket_of(right_lo)
    )
    return (
        lb.join(rb, lb["_bucket"] == rb["_rbucket"])
        .filter(exact & first_shared)
        .drop("_bucket", "_rbucket")
    )


_KEY_T = "array<struct<tb:int,cx:int,cy:int>>"


def traj_grid_keys(
    t_arr,
    x_arr,
    y_arr,
    len_arr=None,
    cell: float = 10.0,
    tbucket_secs: int = 3600,
    expand: float = 0.0,
) -> Column:
    """DISTINCT (tb, cx, cy) grid keys covered by a trajectory given as
    flat arrays (t seconds, x, y — `tpoint_pairs.flat_cols`): every
    point's cell (expanded by `expand` units) plus, per intra-sequence
    segment, every cell of the segment's `expand`-grown bbox for every
    time bucket the segment spans. `len_arr` (per-sequence instant
    counts) masks phantom inter-sequence segments so a multi-day gap
    doesn't explode into thousands of time buckets.

    All-JVM HOF expression; output size per trip is
    O(points + Σ_seg buckets·cells) — bounded when cell ≳ typical
    segment extent."""
    c = F.lit(float(cell))
    w = F.lit(float(tbucket_secs))
    e = F.lit(float(expand))
    n = F.size(x_arr)

    def key(tb, cx, cy):
        return F.struct(
            tb.cast("int").alias("tb"),
            cx.cast("int").alias("cx"),
            cy.cast("int").alias("cy"),
        )

    def box_keys(t0, t1, x_lo, x_hi, y_lo, y_hi):
        cx0 = F.floor((x_lo - e) / c)
        cx1 = F.floor((x_hi + e) / c)
        cy0 = F.floor((y_lo - e) / c)
        cy1 = F.floor((y_hi + e) / c)
        tb0 = F.floor(t0 / w)
        tb1 = F.floor(t1 / w)
        return F.flatten(
            F.transform(
                F.sequence(tb0, tb1),
                lambda tb: F.flatten(
                    F.transform(
                        F.sequence(cx0, cx1),
                        lambda cx: F.transform(
                            F.sequence(cy0, cy1), lambda cy: key(tb, cx, cy)
                        ),
                    )
                ),
            )
        )

    # 0-based sequence-start positions [0, l0, l0+l1, ...]
    starts = (
        F.aggregate(
            len_arr,
            F.array(F.lit(0)),
            lambda acc, l: F.concat(
                acc, F.array(F.element_at(acc, F.lit(-1)) + l)
            ),
        )
        if len_arr is not None
        else None
    )

    pt_keys = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: box_keys(
                F.element_at(t_arr, i), F.element_at(t_arr, i),
                F.element_at(x_arr, i), F.element_at(x_arr, i),
                F.element_at(y_arr, i), F.element_at(y_arr, i),
            ),
        )
    )

    def seg_keys(i):
        x0, x1 = F.element_at(x_arr, i), F.element_at(x_arr, i + 1)
        y0, y1 = F.element_at(y_arr, i), F.element_at(y_arr, i + 1)
        ks = box_keys(
            F.element_at(t_arr, i), F.element_at(t_arr, i + 1),
            F.least(x0, x1), F.greatest(x0, x1),
            F.least(y0, y1), F.greatest(y0, y1),
        )
        if starts is None:
            return ks
        # 1-based i: the segment joins 0-based points (i-1, i); it is a
        # phantom inter-sequence edge iff point i starts a new sequence
        return F.when(
            F.array_contains(starts, i), F.array().cast(_KEY_T)
        ).otherwise(ks)

    seg = F.when(n > 1, F.flatten(
        F.transform(F.sequence(F.lit(1), n - 1), seg_keys)
    )).otherwise(F.array().cast(_KEY_T))
    return F.array_distinct(F.concat(pt_keys, seg))


def grid_pair_candidates(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    d: float,
    cell: float | None = None,
    tbucket_secs: int = 3600,
) -> DataFrame:
    """Candidate (left_id, right_id) pairs whose trajectories MIGHT come
    within distance d — the scalable large×large prelude to an exact
    pairwise kernel (eDwithin / minDistance). Each side carries the flat
    trajectory columns t_arr, x_arr, y_arr, len_arr (`tpoint_pairs.
    flat_cols`, as in berlinmod's `_trips`). Both sides shuffle on
    (tb, cx, cy) grid keys (plain hash-partitioned equi-join, no
    broadcast, no cartesian); the candidate id-pair set is DISTINCTed
    before the caller re-joins payloads, so the expensive arrays cross
    the exact-verify join once per candidate pair, not once per shared
    key. Superset guarantee: see module docstring."""
    cell = float(cell) if cell is not None else max(4.0 * d, 1.0)

    def keyed(df: DataFrame, idc: str, alias: str, expand: float) -> DataFrame:
        return df.select(
            F.col(idc).alias(alias),
            F.explode(
                traj_grid_keys(
                    F.col("t_arr"), F.col("x_arr"), F.col("y_arr"), F.col("len_arr"),
                    cell=cell, tbucket_secs=tbucket_secs, expand=expand,
                )
            ).alias("_gk"),
        )

    lk = keyed(left, left_id, "_lid", d)
    rk = keyed(right, right_id, "_rid", 0.0)
    return (
        lk.join(rk, "_gk")
        .select(F.col("_lid").alias(left_id + "_l"), F.col("_rid").alias(right_id + "_r"))
        .distinct()
    )


def asof_join(
    probes: DataFrame,
    events: DataFrame,
    key: str,
    probe_ts: str,
    event_ts: str,
    value_cols: list,
    tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: for every probe row, the values of the latest event
    with event_ts ≤ probe_ts in the same key group (left join — probes
    with no prior event keep NULLs).

    Spark-first plan: UNION the two inputs, ONE shuffle on the key, and
    a running last-non-null window ordered by (ts, side, tiebreak) —
    events sort before probes at equal timestamps, so ties are
    inclusive, and `tiebreak` makes the pick deterministic when events
    share a timestamp. This is the canonical cluster-scale as-of shape:
    no range-bucketing, no row duplication, no join operator at all —
    wall cost is a sort within each key partition, and skew follows the
    key distribution exactly like any groupBy.

    The matched event's value_cols travel as ONE struct through the
    window (NULL struct on probe rows): the output row is atomically
    the latest event — a genuinely-NULL value in that event stays NULL
    instead of bleeding an older event's value through per-column
    ignorenulls. Events with NULL event_ts are excluded (ts ≤ pts is
    never true for them); probes with NULL probe_ts sort before every
    event and yield all-NULL output.
    """
    from pyspark.sql import types as T

    collide = set(value_cols) & set(probes.columns)
    if collide:
        raise ValueError(
            f"value_cols collide with probe columns: {sorted(collide)}"
        )
    events = events.filter(F.col(event_ts).isNotNull())
    order = [F.col("_ats").asc_nulls_first(), F.col("_side").asc()]
    payload_t = T.StructType(
        [T.StructField(c, events.schema[c].dataType) for c in value_cols]
    )
    ev_cols = [
        F.col(key),
        F.col(event_ts).alias("_ats"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("_ev"),
    ]
    pr_cols = [
        F.col(key),
        F.col(probe_ts).alias("_ats"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(payload_t).alias("_ev"),
    ]
    if tiebreak is not None:
        ev_cols.append(F.col(tiebreak).alias("_tb"))
        pr_cols.append(F.lit(None).cast(events.schema[tiebreak].dataType).alias("_tb"))
        # the running last() picks the final row at an equal timestamp, so
        # ascending-NULLS-FIRST means a NULL-tiebreak event loses the tie
        # to any non-NULL tiebreak (= the oracle's ORDER BY tiebreak DESC
        # NULLS LAST preferring the max non-NULL event)
        order.append(F.col("_tb").asc_nulls_first())
    probe_keep = [c for c in probes.columns]
    union = events.select(*ev_cols, *[F.lit(None).cast(probes.schema[c].dataType).alias(f"_p_{c}") for c in probe_keep]) \
        .unionByName(
            probes.select(*pr_cols, *[F.col(c).alias(f"_p_{c}") for c in probe_keep])
        )
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    picked = union.select(
        *[F.col(f"_p_{c}").alias(c) for c in probe_keep],
        F.col("_side"),
        F.last(F.col("_ev"), ignorenulls=True).over(w).alias("_ev"),
    )
    return picked.filter(F.col("_side") == 1).select(
        *probe_keep, *[F.col("_ev")[c].alias(c) for c in value_cols]
    )
