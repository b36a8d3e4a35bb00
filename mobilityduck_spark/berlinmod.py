"""BerlinMOD query pack: the reference's 17 benchmark queries
(/root/reference/benchmark/BerlinMOD/sql/queries/query_{1..17}.sql)
re-expressed Spark-first over the synthetic BerlinMOD-shaped dataset
(sources/berlinmod.py).

Semantics notes vs the reference:
- `ST_Intersects(trajectory, point)` is EXACT (r3): observed-vertex
  hits PLUS collinear segment pass-throughs between samples, with
  µs-floored interpolated hit instants (_point_hits; oracle fragments
  _PSEG_SQL/_PHIT_SQL transliterate the identical IEEE formulas).
- box-region queries (q13/q16) use EXACT crossing-interpolation
  semantics (TP.intersects_stbox, Liang–Barsky per segment, oracle in
  identical ANSI SQL); polygon-region variants (bm_q13_poly/bm_q14_poly)
  mirror the reference's real ST_MakePolygon regions.
- interpolation-dependent queries (q3/q11/q12/q14) compare the SAME
  closed-form interpolation on both engines → exact float equality.
- pairwise queries q5/q6/q10 now carry full ANSI oracles: q5 via the
  exhaustive segment×point static-distance formulation, q6/q10 via the
  synchronized-distance template (_sync_edwithin_oracle — union knots,
  ASOF interpolation, quadratic vertex minima). q16 (aDisjoint over
  period-clipped pairs) remains rows-only.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import box as B
from .functions import span as S
from .functions import temporal as TT
from .functions import tpoint as TP
from .pins import memo, pin, session_key
from .queries import register
from .sources import berlinmod as BM

# ---------------------------------------------------------------- helpers
def warm_caches(spark: SparkSession, sf_dir: str) -> float:
    """Materialize the shared persisted intermediates (trips, point hits,
    segments) and return the wall seconds spent. Benchmarks call this
    so the one-time cache builds are charged to an explicit setup phase
    instead of whichever query happens to touch a cache first."""
    import time as _time

    t0 = _time.perf_counter()
    _trips(spark, sf_dir).count()
    _point_hits(spark, sf_dir).count()
    _segments(spark, sf_dir).count()
    _l1_segments(spark, sf_dir).count()
    return _time.perf_counter() - t0


def _instants1_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """instants1 (10 rows), pinned per session: bm_q3 broadcasts it on
    every call, and the unpinned form re-runs its ranked-head job for
    each broadcast build."""
    return memo(
        (session_key(spark), sf_dir, "instants1"),
        lambda: pin(BM.instants1(spark, sf_dir), "session"),
    )


def _l1_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The _segments relation restricted to the licences1 probe fleet
    (≤10 vehicles → a few thousand narrow rows), with the licence
    column attached — the shared scan of bm_q3/bm_q8. Persisted per
    session and built in warm_caches, so the licences1 broadcast runs
    once: q3/q8 otherwise pay a full-fleet segment scan plus a licence
    broadcast build per call for a relation that cannot change within
    a session (VERDICT r10 item 2)."""

    def build() -> DataFrame:
        l1 = BM.licences1(spark, sf_dir).select("vehicle_id", "licence")
        return pin(
            _segments(spark, sf_dir).join(F.broadcast(l1), "vehicle_id"),
            "session",
        )

    return memo((session_key(spark), sf_dir, "l1_segments"), build)


def _trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per vehicle: the `trip` struct plus its (t, x, y) flat
    arrays and stbox `bb` — the pairwise-UDF input (nested structs cost
    ~100× more to cross Arrow).

    Shared by every bm query and persisted once per session: both sides
    of every pairwise self-join read this; without materialization a
    BroadcastNestedLoopJoin re-derives the subtree on an untuned session
    (measured 61s vs 1s at sf0.01)."""
    from .operators.tpoint_pairs import flat_cols

    def build() -> DataFrame:
        ts_, xs, ys, lens = flat_cols(F.col("trip"))
        trips = BM.trips(spark, sf_dir).select(
            "vehicle_id",
            "trip",
            ts_.alias("t_arr"),
            xs.alias("x_arr"),
            ys.alias("y_arr"),
            lens.alias("len_arr"),
            B.stbox_of_tpoint(F.col("trip")).alias("bb"),
        )
        return pin(trips, "session")

    return memo((session_key(spark), sf_dir, "trips"), build)


def _segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat per-segment relation of the trips table: one row per instant
    with its island successor (t1/x1/y1 NULL for island-final instants)
    plus the island's instant count (single-instant arm). Shared by the
    exact box-clip semi-join (bm_q13), at_line_duration and
    at_polygon_duration; persisted once per session — the relational
    form keeps the per-candidate geometry in whole-stage codegen where
    the per-trip HOF form stays interpreted."""

    def build() -> DataFrame:
        trips = _trips(spark, sf_dir)
        inst = (
            trips.select(
                "vehicle_id", F.posexplode(F.col("trip")["seqs"]).alias("si", "seq")
            )
            .select(
                "vehicle_id", "si",
                F.size(F.col("seq")["instants"]).alias("n_inst"),
                F.posexplode(F.col("seq")["instants"]).alias("ii", "i"),
            )
            .select(
                "vehicle_id", "si", "n_inst", "ii",
                F.col("i")["t"].alias("t0"),
                F.col("i")["v"]["x"].alias("x0"),
                F.col("i")["v"]["y"].alias("y0"),
            )
        )
        w = Window.partitionBy("vehicle_id", "si").orderBy("ii")
        segs = inst.select(
            "vehicle_id", "n_inst", "t0", "x0", "y0",
            F.lead("t0").over(w).alias("t1"),
            F.lead("x0").over(w).alias("x1"),
            F.lead("y0").over(w).alias("y1"),
        )
        return pin(segs, "session")

    return memo((session_key(spark), sf_dir, "segments"), build)


def _point_hits(spark, sf_dir):
    """Distinct (vehicle_id, point_id, hit_us) rows — EXACT
    ST_Intersects(trajectory, point) semantics for the q4/q7/q15/q17
    probe-point joins (query_4/7/15/17.sql): observed-vertex hits PLUS
    collinear pass-throughs between samples, with the pass-through
    instant interpolated on the segment's dominant axis and µs-floored.
    The identical IEEE formula is transliterated in _PHIT_SQL, the
    shared oracle fragment. (Rounds 1–2 used vertex-only semantics —
    a documented under-approximation, now exact.)

    Plan shape: the trajectory EXPLODES into a flat segment relation
    (island-final instants become zero-length segments, so vertex hits
    fall out of the one segment formula) and the probe join is plain
    whole-stage-codegen expressions — no interpreted HOF in the hot
    path (the HOF-per-pair formulation cost 14 s vs ~2 s at sf0.01).
    Persisted once per session: four queries consume this relation."""

    def build() -> DataFrame:
        trips = _trips(spark, sf_dir)
        pts = BM.points1(spark, sf_dir)

        inst = (
            trips.select(
                "vehicle_id", F.posexplode(F.col("trip")["seqs"]).alias("si", "seq")
            )
            .select(
                "vehicle_id", "si",
                F.posexplode(F.col("seq")["instants"]).alias("ii", "i"),
            )
            .select(
                "vehicle_id", "si", "ii",
                F.col("i")["t"].alias("t0"),
                F.col("i")["v"]["x"].alias("x0"),
                F.col("i")["v"]["y"].alias("y0"),
            )
        )
        w = Window.partitionBy("vehicle_id", "si").orderBy("ii")
        segs = inst.select(
            "vehicle_id", "t0", "x0", "y0",
            F.coalesce(F.lead("t0").over(w), F.col("t0")).alias("t1"),
            F.coalesce(F.lead("x0").over(w), F.col("x0")).alias("x1"),
            F.coalesce(F.lead("y0").over(w), F.col("y0")).alias("y1"),
        ).select(
            "vehicle_id", "t0", "x0", "y0", "t1", "x1", "y1",
            (F.col("x1") - F.col("x0")).alias("dx"),
            (F.col("y1") - F.col("y0")).alias("dy"),
        )
        px, py = F.col("px"), F.col("py")
        dx, dy = F.col("dx"), F.col("dy")
        x0, y0 = F.col("x0"), F.col("y0")
        cross = dx * (py - y0) - dy * (px - x0)
        within = (
            (px >= F.least(x0, F.col("x1"))) & (px <= F.greatest(x0, F.col("x1")))
            & (py >= F.least(y0, F.col("y1"))) & (py <= F.greatest(y0, F.col("y1")))
        )
        s = F.when(
            F.abs(dx) >= F.abs(dy),
            F.when(dx != 0, (px - x0) / dx).otherwise(F.lit(0.0)),
        ).otherwise(F.when(dy != 0, (py - y0) / dy).otherwise(F.lit(0.0)))
        t0u = F.unix_micros(F.col("t0"))
        dtu = (F.unix_micros(F.col("t1")) - t0u).cast("double")
        hits = (
            segs.crossJoin(F.broadcast(pts))
            .filter((cross == 0) & within)
            .select(
                "vehicle_id",
                "point_id",
                F.floor(t0u.cast("double") + s * dtu).cast("long").alias("hit_us"),
            )
            .distinct()
        )
        return pin(hits, "session")

    return memo((session_key(spark), sf_dir, "point_hits"), build)


# Shared oracle fragments for _point_hits: require CTEs `isl` (islands)
# and `pt` (probe points) in scope. UNION-free on purpose: island-final
# rows become zero-length segments, so every vertex hit falls out of
# the one segment formula (s=0/s=1/zero-length) — a bare UNION here
# nondeterministically trips a DuckDB internal "flat vector" assertion
# when DuckDB runs multithreaded alongside Spark in one process.
# Precomputed plain columns + ORDER BY materialization + CROSS JOIN
# WHERE (not JOIN ON over expressions): an expression join directly
# over the window output nondeterministically trips a DuckDB internal
# "flat vector" assertion when DuckDB runs multithreaded alongside
# Spark in one process (observed ~30-60% of runs; 0/60 with this
# shape). The arithmetic is IEEE-identical — dx/dy/bboxes are the same
# ops, just named.
_PSEG_SQL = """
      SELECT user_id, t0, x0, y0, t1, x1, y1,
             x1 - x0 AS dx, y1 - y0 AS dy,
             LEAST(x0, x1) AS bx0, GREATEST(x0, x1) AS bx1,
             LEAST(y0, y1) AS by0, GREATEST(y0, y1) AS by1
      FROM (
        SELECT user_id, t0, x0, y0,
               CASE WHEN isl1 = island AND t1 IS NOT NULL THEN t1 ELSE t0 END AS t1,
               CASE WHEN isl1 = island AND t1 IS NOT NULL THEN x1 ELSE x0 END AS x1,
               CASE WHEN isl1 = island AND t1 IS NOT NULL THEN y1 ELSE y0 END AS y1
        FROM (
          SELECT user_id, island, ts AS t0, x AS x0, y AS y0,
                 lead(ts) OVER w AS t1, lead(x) OVER w AS x1,
                 lead(y) OVER w AS y1, lead(island) OVER w AS isl1
          FROM isl
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        )
      )
      ORDER BY user_id, t0
"""

_PHIT_SQL = """
      SELECT DISTINCT s.user_id, pt.point_id,
             CAST(FLOOR(CAST(epoch_us(s.t0) AS DOUBLE) +
               (CASE WHEN ABS(s.dx) >= ABS(s.dy)
                     THEN CASE WHEN s.dx <> 0.0
                               THEN (pt.px - s.x0) / s.dx ELSE 0.0 END
                     ELSE CASE WHEN s.dy <> 0.0
                               THEN (pt.py - s.y0) / s.dy ELSE 0.0 END END)
               * CAST(epoch_us(s.t1) - epoch_us(s.t0) AS DOUBLE))
             AS BIGINT) AS hit_us
      FROM pseg s CROSS JOIN pt
      WHERE s.dx * (pt.py - s.y0) - s.dy * (pt.px - s.x0) = 0.0
        AND pt.px >= s.bx0 AND pt.px <= s.bx1
        AND pt.py >= s.by0 AND pt.py <= s.by1
"""


_INTERP_ORACLE = """
    bef AS (
      SELECT e.user_id, i.instant_id, i.instant,
             arg_max(e.x, e.ts) AS bx, arg_max(e.y, e.ts) AS by_,
             MAX(e.ts) AS bt, arg_max(e.island, e.ts) AS bisl
      FROM isl e JOIN i ON e.ts <= i.instant
      GROUP BY e.user_id, i.instant_id, i.instant
    ),
    aft AS (
      SELECT e.user_id, i.instant_id,
             arg_min(e.x, e.ts) AS ax, arg_min(e.y, e.ts) AS ay,
             MIN(e.ts) AS at_, arg_min(e.island, e.ts) AS aisl
      FROM isl e JOIN i ON e.ts >= i.instant
      GROUP BY e.user_id, i.instant_id
    ),
    pos AS (
      SELECT b.user_id, b.instant_id,
             CASE WHEN a.at_ = b.bt THEN b.bx
                  ELSE b.bx + (a.ax - b.bx) *
                       ((epoch_us(b.instant) - epoch_us(b.bt)) /
                        (epoch_us(a.at_) - epoch_us(b.bt))) END AS px,
             CASE WHEN a.at_ = b.bt THEN b.by_
                  ELSE b.by_ + (a.ay - b.by_) *
                       ((epoch_us(b.instant) - epoch_us(b.bt)) /
                        (epoch_us(a.at_) - epoch_us(b.bt))) END AS py
      FROM bef b JOIN aft a
        ON b.user_id = a.user_id AND b.instant_id = a.instant_id
      WHERE b.bisl = a.aisl
    )
"""


# ================================================================ q1/q2
@register(
    "bm_q1",
    f"""
    WITH v AS ({BM.VEHICLES_SQL}),
    l AS (SELECT * FROM ({BM.LICENCES1_SQL}) UNION ALL SELECT * FROM ({BM.LICENCES2_SQL}))
    SELECT DISTINCT l.licence, v.model FROM v JOIN l ON v.licence = l.licence
    """,
)
def bm_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1: licences ⋈ vehicles → (licence, model)."""
    v = BM.vehicles(spark, sf_dir)
    lic = BM.licences1(spark, sf_dir).union(BM.licences2(spark, sf_dir))
    return (
        v.join(F.broadcast(lic.select(F.col("licence").alias("l_lic"))),
               v["licence"] == F.col("l_lic"))
        .select("licence", "model")
        .distinct()
    )


@register(
    "bm_q2",
    f"""
    SELECT COUNT(DISTINCT licence) AS n
    FROM ({BM.VEHICLES_SQL}) WHERE vehicle_type = 'passenger'
    """,
)
def bm_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q2: COUNT(DISTINCT licence) of passenger vehicles."""
    return (
        BM.vehicles(spark, sf_dir)
        .filter(F.col("vehicle_type") == "passenger")
        .agg(F.countDistinct("licence").alias("n"))
    )


# ================================================================ q3
@register(
    "bm_q3",
    f"""
    WITH isl AS ({BM.ISLANDS_SQL}),
    l1 AS ({BM.LICENCES1_SQL}),
    i AS ({BM.INSTANTS1_SQL}),
    {_INTERP_ORACLE}
    SELECT l1.licence, p.instant_id,
           ROUND(p.px, 6) AS px, ROUND(p.py, 6) AS py
    FROM pos p JOIN l1 ON l1.vehicle_id = p.user_id
    """,
)
def bm_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q3: position of licences1 vehicles at probe instants
    (trip::tstzspan @> instant + valueAtTimestamp).

    Round-11 re-plan (VERDICT r10 item 2): the per-trip
    value_at_timestamp HOF built a plan whose CONSTRUCTION dominated
    the call (~0.8 s analysis vs ~0.2 s execution at sf0.1, measured) —
    the segment relation keeps the identical interpolation formula
    (exact IEEE ops of tpoint.value_at_timestamp / _INTERP_ORACLE) in a
    three-line codegen expression over the persisted _l1_segments scan.
    Enclosing-segment match: half-open [t0, t1) rows plus the
    island-final instant row (t1 NULL, exact-instant arm) — exactly one
    match per defined instant, the maximal-island twin of the HOF's
    covers() walk. The per-trip HOF stays the API form
    (functions/tpoint.py)."""
    segs = _l1_segments(spark, sf_dir)
    inst = _instants1_local(spark, sf_dir)
    i_us = F.unix_micros(F.col("instant"))
    t0_us = F.unix_micros(F.col("t0"))
    t1_us = F.unix_micros(F.col("t1"))
    hit = segs.crossJoin(F.broadcast(inst)).filter(
        (
            F.col("t1").isNotNull()
            & (F.col("t0") <= F.col("instant"))
            & (F.col("instant") < F.col("t1"))
        )
        | (F.col("t1").isNull() & (F.col("instant") == F.col("t0")))
    )
    frac = (i_us - t0_us) / (t1_us - t0_us)
    px = F.when(F.col("instant") == F.col("t0"), F.col("x0")).otherwise(
        F.col("x0") + (F.col("x1") - F.col("x0")) * frac
    )
    py = F.when(F.col("instant") == F.col("t0"), F.col("y0")).otherwise(
        F.col("y0") + (F.col("y1") - F.col("y0")) * frac
    )
    return hit.select(
        "licence",
        "instant_id",
        F.round(px, 6).alias("px"),
        F.round(py, 6).alias("py"),
    )


# ================================================================ q4
@register(
    "bm_q4",
    f"""
    WITH isl AS ({BM.ISLANDS_SQL}), pt AS ({BM.POINTS1_SQL}),
    v AS ({BM.VEHICLES_SQL}),
    pseg AS ({_PSEG_SQL}),
    phit AS ({_PHIT_SQL})
    SELECT DISTINCT h.point_id, v.licence
    FROM phit h JOIN v ON v.vehicle_id = h.user_id
    """,
)
def bm_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q4: which vehicles passed through probe points —
    EXACT ST_Intersects(trajectory, point): vertex hits + collinear
    segment pass-throughs (query_4.sql)."""
    hits = _point_hits(spark, sf_dir)
    v = BM.vehicles(spark, sf_dir)
    return (
        hits.join(F.broadcast(v), "vehicle_id")
        .select("point_id", "licence")
        .distinct()
    )


# ================================================================ q5
@register(
    "bm_q5",
    f"""
    WITH isl AS ({BM.ISLANDS_SQL}),
    l1 AS ({BM.LICENCES1_SQL}),
    l2 AS ({BM.LICENCES2_SQL}),
    p1 AS (
      SELECT e.user_id, e.ts, e.x, e.y, e.island
      FROM isl e JOIN l1 ON l1.vehicle_id = e.user_id
    ),
    p2 AS (
      SELECT e.user_id, e.ts, e.x, e.y, e.island
      FROM isl e JOIN l2 ON l2.vehicle_id = e.user_id
    ),
    s1 AS (
      SELECT user_id, x AS x0, y AS y0,
             lead(x) OVER w AS x1, lead(y) OVER w AS y1,
             island, lead(island) OVER w AS isl2
      FROM p1 WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s1v AS (
      SELECT user_id, x0, y0, x1, y1 FROM s1
      WHERE x1 IS NOT NULL AND island = isl2
    ),
    s2 AS (
      SELECT user_id, x AS x0, y AS y0,
             lead(x) OVER w AS x1, lead(y) OVER w AS y1,
             island, lead(island) OVER w AS isl2
      FROM p2 WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s2v AS (
      SELECT user_id, x0, y0, x1, y1 FROM s2
      WHERE x1 IS NOT NULL AND island = isl2
    ),
    -- arm 1: l1 segments x l2 points (point-to-segment distance^2,
    -- identical FP ops as the numpy kernel _min_polyline_dist)
    a1u AS (
      SELECT s.user_id AS u1, q.user_id AS u2,
             s.x0, s.y0, s.x1 - s.x0 AS dx, s.y1 - s.y0 AS dy,
             q.x AS qx, q.y AS qy,
             CASE WHEN (s.x1 - s.x0)*(s.x1 - s.x0)
                       + (s.y1 - s.y0)*(s.y1 - s.y0) > 0
                  THEN GREATEST(0.0, LEAST(1.0,
                       (((q.x - s.x0)*(s.x1 - s.x0) + (q.y - s.y0)*(s.y1 - s.y0))
                        / ((s.x1 - s.x0)*(s.x1 - s.x0)
                           + (s.y1 - s.y0)*(s.y1 - s.y0)))))
                  ELSE 0.0 END AS u
      FROM s1v s CROSS JOIN p2 q
    ),
    a1 AS (
      SELECT u1, u2,
             MIN((qx - (x0 + u*dx))*(qx - (x0 + u*dx))
                 + (qy - (y0 + u*dy))*(qy - (y0 + u*dy))) AS m
      FROM a1u GROUP BY u1, u2
    ),
    a2u AS (
      SELECT q.user_id AS u1, s.user_id AS u2,
             s.x0, s.y0, s.x1 - s.x0 AS dx, s.y1 - s.y0 AS dy,
             q.x AS qx, q.y AS qy,
             CASE WHEN (s.x1 - s.x0)*(s.x1 - s.x0)
                       + (s.y1 - s.y0)*(s.y1 - s.y0) > 0
                  THEN GREATEST(0.0, LEAST(1.0,
                       (((q.x - s.x0)*(s.x1 - s.x0) + (q.y - s.y0)*(s.y1 - s.y0))
                        / ((s.x1 - s.x0)*(s.x1 - s.x0)
                           + (s.y1 - s.y0)*(s.y1 - s.y0)))))
                  ELSE 0.0 END AS u
      FROM s2v s CROSS JOIN p1 q
    ),
    a2 AS (
      SELECT u1, u2,
             MIN((qx - (x0 + u*dx))*(qx - (x0 + u*dx))
                 + (qy - (y0 + u*dy))*(qy - (y0 + u*dy))) AS m
      FROM a2u GROUP BY u1, u2
    ),
    crossed AS (
      SELECT DISTINCT s.user_id AS u1, t.user_id AS u2
      FROM s1v s JOIN s2v t
        ON ((s.x1-s.x0)*(t.y0-s.y0) - (s.y1-s.y0)*(t.x0-s.x0))
           * ((s.x1-s.x0)*(t.y1-s.y0) - (s.y1-s.y0)*(t.x1-s.x0)) < 0
       AND ((t.x1-t.x0)*(s.y0-t.y0) - (t.y1-t.y0)*(s.x0-t.x0))
           * ((t.x1-t.x0)*(s.y1-t.y0) - (t.y1-t.y0)*(s.x1-t.x0)) < 0
    ),
    pairs AS (
      SELECT l1.vehicle_id AS v1, l1.licence AS licence1,
             l2.vehicle_id AS v2, l2.licence AS licence2
      FROM l1 CROSS JOIN l2 WHERE l1.vehicle_id < l2.vehicle_id
    )
    SELECT p.licence1, p.licence2,
           ROUND(CASE WHEN c.u1 IS NOT NULL THEN 0.0
                      ELSE SQRT(LEAST(a1.m, a2.m)) END, 3) AS min_dist
    FROM pairs p
    JOIN a1 ON a1.u1 = p.v1 AND a1.u2 = p.v2
    JOIN a2 ON a2.u1 = p.v1 AND a2.u2 = p.v2
    LEFT JOIN crossed c ON c.u1 = p.v1 AND c.u2 = p.v2
    """,
)
def bm_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q5: min static trajectory-pair distance for licences1 × licences2
    (the removed collect_gs/trajectory_gs/distance_gs semantics —
    SURVEY.md §2.9 'known dead references'). Oracle: exhaustive
    segment×point point-to-segment distances + proper-crossing test in
    ANSI SQL, term-for-term the numpy kernel's formulas (both sides of
    every probe pair have real segments in this dataset, so the
    point-point fallback arm is not needed)."""
    from .operators.tpoint_pairs import min_traj_distance

    ft = _trips(spark, sf_dir)
    l1 = BM.licences1(spark, sf_dir)
    l2 = BM.licences2(spark, sf_dir)
    t1 = ft.join(F.broadcast(l1), "vehicle_id").select(
        F.col("licence").alias("licence1"), F.col("vehicle_id").alias("vid1"),
        F.col("t_arr").alias("t1"), F.col("x_arr").alias("x1"),
        F.col("y_arr").alias("y1"), F.col("len_arr").alias("l1"),
    )
    t2 = ft.join(F.broadcast(l2), "vehicle_id").select(
        F.col("licence").alias("licence2"), F.col("vehicle_id").alias("vid2"),
        F.col("t_arr").alias("t2"), F.col("x_arr").alias("x2"),
        F.col("y_arr").alias("y2"), F.col("len_arr").alias("l2"),
    )
    # broadcast hint: a non-equi self-join otherwise plans as a
    # CartesianProduct with shuffle.partitions² tasks (40 000 tasks ≈ 50s
    # of scheduling overhead on a default session — measured); BNLJ over
    # the broadcast 10-row side is 1 stage
    pairs = t1.join(F.broadcast(t2), F.col("vid1") < F.col("vid2"))
    return pairs.select(
        "licence1",
        "licence2",
        F.round(
            min_traj_distance("t1", "x1", "y1", "l1", "t2", "x2", "y2", "l2"), 3
        ).alias("min_dist"),
    )


# ---------------------------------------------------------------- pair plans
# Above this probe-side row count the kernel-closure plan gives way to
# the grid-bucketed candidate equi-join — the plan that survives
# large×large at cluster scale.
_GRID_PAIR_THRESHOLD = 2000
_FLAT = ("t_arr", "x_arr", "y_arr", "len_arr")


def _edwithin_pairs(
    spark: SparkSession,
    probes: DataFrame,
    fleet: DataFrame,
    d: float,
    n_probes: int,
    self_pairs: bool,
) -> DataFrame:
    """(vid1, vid2) pairs — vid1 a `probes` row, vid2 a `fleet` row, both
    `_trips`-shaped — whose trajectories ever come within d
    (eDwithin). `self_pairs` (probes == fleet) keeps vid1 < vid2 only;
    otherwise a row is never paired with its own vid. `n_probes` bounds
    the probe rows (a memoized dim count) and picks the plan.

    Small probe side: the probe trajectories ride in the kernel CLOSURE,
    so each fleet row's arrays cross Arrow once instead of once per
    candidate pair (the pair-join formulation shipped |probes|× the
    data). Without self pairs, a JVM-side OR over the probe envelopes
    first keeps only rows that can hit; with self pairs every row
    overlaps its own probe envelope, so that filter could prune nothing
    (measured: 44 850 of 44 850 truck pairs pass the bbox test). The
    fleet is spread over all cores before the kernel stage: its payload
    is a few MB, so Spark would otherwise run the O(probes × fleet)
    kernel loop on 1-2 partitions.

    Large probe side: grid-key candidate equi-join (no broadcast, no
    cartesian — operators/range_join.grid_pair_candidates), payloads
    re-joined once per DISTINCT candidate id pair."""
    from .operators.range_join import grid_pair_candidates
    from .operators.tpoint_pairs import e_dwithin, register_probe_edwithin_udf

    if n_probes <= _GRID_PAIR_THRESHOLD:
        # bounded by the threshold check above
        rows = probes.select("vehicle_id", *_FLAT).collect()
        hit_vid = register_probe_edwithin_udf(
            [
                {"vid": r["vehicle_id"], "t": r["t_arr"], "x": r["x_arr"],
                 "y": r["y_arr"], "lens": r["len_arr"]}
                for r in rows
            ],
            d,
            ordered=self_pairs,
        )
        if not self_pairs:
            bb = F.col("bb")
            fleet = fleet.filter(functools.reduce(operator.or_, [
                (bb["xmax"] >= min(r["x_arr"]) - d)
                & (bb["xmin"] <= max(r["x_arr"]) + d)
                & (bb["ymax"] >= min(r["y_arr"]) - d)
                & (bb["ymin"] <= max(r["y_arr"]) + d)
                & (F.unix_micros(bb["tmin"]) / 1e6 <= max(r["t_arr"]))
                & (F.unix_micros(bb["tmax"]) / 1e6 >= min(r["t_arr"]))
                for r in rows
            ], F.lit(False)))
        spread = fleet.select("vehicle_id", *_FLAT).repartition(
            spark.sparkContext.defaultParallelism, "vehicle_id"
        )
        return spread.select(
            F.explode(hit_vid(*_FLAT, "vehicle_id")).alias("vid1"),
            F.col("vehicle_id").alias("vid2"),
        )

    def side(df: DataFrame, n: int) -> DataFrame:
        return df.select(
            F.col("vehicle_id").alias(f"vid{n}"),
            *[F.col(c).alias(f"{c}{n}") for c in _FLAT],
        )

    cand = grid_pair_candidates(probes, fleet, "vehicle_id", "vehicle_id", d=d)
    vl, vr = F.col("vehicle_id_l"), F.col("vehicle_id_r")
    cand = cand.filter(vl < vr if self_pairs else vl != vr)
    pairs = cand.join(side(probes, 1), vl == F.col("vid1")).join(
        side(fleet, 2), vr == F.col("vid2")
    )
    return pairs.filter(
        e_dwithin(*[f"{c}{n}" for n in (1, 2) for c in _FLAT], F.lit(d))
    ).select("vid1", "vid2")


def _with_licence(pairs: DataFrame, dim: DataFrame, n: int) -> DataFrame:
    """`pairs` plus licence{n}, looked up by vid{n} in the cached vehicle
    dim `dim` (a broadcast of an in-memory relation: no Python-side
    local relation, whose broadcast runs a Python RDD job per query)."""
    return pairs.join(F.broadcast(dim.select(
        F.col("vehicle_id").alias(f"vid{n}"),
        F.col("licence").alias(f"licence{n}"),
    )), f"vid{n}")


# ================================================================ q6
def _sync_edwithin_oracle(tp_filter: str, prs_cond: str, d2: str,
                          final: str) -> str:
    """ANSI oracle template for the synchronized eDwithin kernel
    (_min_dist_sq_profile): union knots per pair with ASOF-join
    interpolation (np.interp's slope*(t-t0)+f0 form), gap-masked knots
    and segments, per-segment quadratic vertex minimum. Parameterized
    by the tp row filter, the pair condition, the squared distance and
    the final projection."""
    return f"""
    WITH isl AS ({BM.ISLANDS_SQL}),
    v AS ({BM.VEHICLES_SQL}),
    l1 AS ({BM.LICENCES1_SQL}),
    tp AS (
      SELECT e.user_id, e.ts, e.x, e.y, e.island,
             CAST(epoch_us(e.ts) AS DOUBLE) / 1000000.0 AS tsd
      FROM isl e JOIN v ON v.vehicle_id = e.user_id
      {tp_filter}
    ),
    bounds AS (
      SELECT user_id, MIN(ts) AS mn, MAX(ts) AS mx FROM tp GROUP BY user_id
    ),
    prs AS (
      SELECT a.user_id AS u1, b.user_id AS u2,
             GREATEST(a.mn, b.mn) AS lo, LEAST(a.mx, b.mx) AS hi
      FROM bounds a JOIN bounds b
        ON {prs_cond} AND GREATEST(a.mn, b.mn) <= LEAST(a.mx, b.mx)
    ),
    gaps AS (
      SELECT user_id, pts AS glo, ts AS ghi,
             CAST(epoch_us(pts) AS DOUBLE) / 1000000.0 AS glod,
             CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS ghid
      FROM (
        SELECT user_id, ts, island,
               lag(ts) OVER w AS pts, lag(island) OVER w AS pisl
        FROM tp WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ) WHERE pisl IS NOT NULL AND pisl <> island AND ts > pts
    ),
    knots AS (
      SELECT p.u1, p.u2, t.ts, t.tsd
      FROM prs p JOIN tp t
        ON t.user_id IN (p.u1, p.u2) AND t.ts >= p.lo AND t.ts <= p.hi
      GROUP BY p.u1, p.u2, t.ts, t.tsd
    ),
    -- np.interp transliteration: slope*(t - t0) + f0, exact endpoint on
    -- coincident knots; bef/aft located with ASOF joins
    kpos AS (
      SELECT k.u1, k.u2, k.ts, k.tsd,
        CASE WHEN a1.tsd = b1.tsd THEN b1.x
             ELSE (a1.x - b1.x)/(a1.tsd - b1.tsd)*(k.tsd - b1.tsd) + b1.x END AS pax,
        CASE WHEN a1.tsd = b1.tsd THEN b1.y
             ELSE (a1.y - b1.y)/(a1.tsd - b1.tsd)*(k.tsd - b1.tsd) + b1.y END AS pay,
        CASE WHEN a2.tsd = b2.tsd THEN b2.x
             ELSE (a2.x - b2.x)/(a2.tsd - b2.tsd)*(k.tsd - b2.tsd) + b2.x END AS pbx,
        CASE WHEN a2.tsd = b2.tsd THEN b2.y
             ELSE (a2.y - b2.y)/(a2.tsd - b2.tsd)*(k.tsd - b2.tsd) + b2.y END AS pby,
        NOT EXISTS (SELECT 1 FROM gaps g
                    WHERE g.user_id IN (k.u1, k.u2)
                      AND k.ts > g.glo AND k.ts < g.ghi) AS vk
      FROM knots k
      ASOF JOIN tp b1 ON b1.user_id = k.u1 AND b1.ts <= k.ts
      ASOF JOIN tp a1 ON a1.user_id = k.u1 AND a1.ts >= k.ts
      ASOF JOIN tp b2 ON b2.user_id = k.u2 AND b2.ts <= k.ts
      ASOF JOIN tp a2 ON a2.user_id = k.u2 AND a2.ts >= k.ts
    ),
    segd AS (
      SELECT u1, u2, tsd, pax, pay, pbx, pby, vk,
             lead(tsd) OVER w AS ntsd,
             lead(pax) OVER w AS npax, lead(pay) OVER w AS npay,
             lead(pbx) OVER w AS npbx, lead(pby) OVER w AS npby
      FROM kpos WINDOW w AS (PARTITION BY u1, u2 ORDER BY tsd)
    ),
    knot_min AS (
      SELECT u1, u2,
             MIN(CASE WHEN vk THEN (pax-pbx)*(pax-pbx) + (pay-pby)*(pay-pby)
                 END) AS m,
             COUNT(CASE WHEN vk THEN 1 END) AS n_valid
      FROM segd GROUP BY u1, u2
    ),
    segq AS (
      -- quadratic-vertex minimum per union segment whose midpoint is
      -- not inside a gap of either side (identical FP ops as
      -- _min_dist_sq_profile)
      SELECT u1, u2,
             pax - pbx AS dx0, pay - pby AS dy0,
             (npax - npbx) - (pax - pbx) AS vx,
             (npay - npby) - (pay - pby) AS vy
      FROM segd s
      WHERE ntsd IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM gaps g
                        WHERE g.user_id IN (s.u1, s.u2)
                          AND (s.tsd + s.ntsd) * 0.5 > g.glod
                          AND (s.tsd + s.ntsd) * 0.5 < g.ghid)
    ),
    seg_min AS (
      SELECT u1, u2,
             MIN((dx0 + vx*u)*(dx0 + vx*u) + (dy0 + vy*u)*(dy0 + vy*u)) AS m
      FROM (
        SELECT u1, u2, dx0, dy0, vx, vy,
               CASE WHEN vx*vx + vy*vy > 0
                    THEN GREATEST(0.0, LEAST(1.0,
                         -(dx0*vx + dy0*vy) / (vx*vx + vy*vy)))
                    ELSE 0.0 END AS u
        FROM segq
      ) GROUP BY u1, u2
    ),
    within AS (
      SELECT k.u1, k.u2
      FROM knot_min k
      LEFT JOIN seg_min s ON s.u1 = k.u1 AND s.u2 = k.u2
      WHERE k.n_valid > 0
        AND LEAST(k.m, COALESCE(s.m, k.m)) <= {d2}
    )
    {final}
    """


@register(
    "bm_q6",
    _sync_edwithin_oracle(
        tp_filter="WHERE v.vehicle_type = 'truck'",
        prs_cond="a.user_id < b.user_id",
        d2="100.0",
        final="""
    SELECT DISTINCT v1.licence AS licence1, v2.licence AS licence2
    FROM within w
    JOIN v v1 ON v1.vehicle_id = w.u1
    JOIN v v2 ON v2.vehicle_id = w.u2
    """,
    ),
)
def bm_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q6: truck pairs that ever came within 10 units (the reference's
    `Trip && expandSpace(...)` + eDwithin, SURVEY.md §2.7).

    Oracle: full synchronized-distance formulation in ANSI SQL — union
    knots per pair (ASOF-join interpolation matching np.interp's
    slope*(t-t0)+f0 form), gap-masked knots/segments, and the
    per-segment quadratic vertex minimum, term-for-term the
    _min_dist_sq_profile kernel.

    Plan: `_edwithin_pairs` over the truck fleet against itself (self
    pairs), then both licences."""
    v = BM.vehicles(spark, sf_dir).filter(F.col("vehicle_type") == "truck")
    t = _trips(spark, sf_dir).join(F.broadcast(v), "vehicle_id")
    # plan probe on the DIM side: each vehicle has ≤1 trips row, so
    # |v| bounds |t| — a memoized count on the tiny vehicles parquet
    # instead of a scan over the cached trip arrays (~0.9 s at sf0.1)
    n_trucks = memo((session_key(spark), sf_dir, "count", "trucks"), v.count)
    pairs = _edwithin_pairs(spark, t, t, 10.0, n_trucks, self_pairs=True)
    pairs = _with_licence(_with_licence(pairs, v, 1), v, 2)
    return pairs.select("licence1", "licence2").distinct()


# ================================================================ q7
@register(
    "bm_q7",
    f"""
    WITH isl AS ({BM.ISLANDS_SQL}), pt AS ({BM.POINTS1_SQL}),
    v AS ({BM.VEHICLES_SQL}),
    pseg AS ({_PSEG_SQL}),
    phit AS ({_PHIT_SQL}),
    arr AS (
      SELECT h.point_id, v.licence, MIN(h.hit_us) AS first_us
      FROM phit h
      JOIN v ON v.vehicle_id = h.user_id AND v.vehicle_type = 'passenger'
      GROUP BY h.point_id, v.licence
    )
    -- window-min instead of a correlated scalar subquery: the latter
    -- over this UNION-derived CTE trips a DuckDB internal assertion
    SELECT point_id, licence, first_us FROM (
      SELECT a.*, MIN(first_us) OVER (PARTITION BY point_id) AS mn FROM arr a
    ) WHERE first_us = mn
    """,
)
def bm_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q7: first passenger vehicle to reach each probe point
    (MIN(startTimestamp(atValues(trip, point))) + <= ALL subquery →
    window-min); exact pass-through hit times."""
    hits = _point_hits(spark, sf_dir)
    v = BM.vehicles(spark, sf_dir).filter(F.col("vehicle_type") == "passenger")
    arr = (
        hits.join(F.broadcast(v), "vehicle_id")
        .groupBy("point_id", "licence")
        .agg(F.min("hit_us").alias("first_us"))
    )
    w = Window.partitionBy("point_id")
    return (
        arr.withColumn("_mn", F.min("first_us").over(w))
        .filter(F.col("first_us") == F.col("_mn"))
        .drop("_mn")
    )


# ================================================================ q8/q9
_Q8_CONTRIB = f"""
    isl AS ({BM.ISLANDS_SQL}),
    p AS ({BM.PERIODS1_SQL}),
    seg AS (
      SELECT user_id, island, ts, x, y,
             lead(ts) OVER w AS nts, lead(x) OVER w AS nx, lead(y) OVER w AS ny,
             lead(island) OVER w AS nisl
      FROM isl WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    contrib AS (
      SELECT s.user_id, p.period_id,
             sqrt(power(s.nx - s.x, 2) + power(s.ny - s.y, 2)) *
             ((least(epoch_us(s.nts), epoch_us(p.tend))
               - greatest(epoch_us(s.ts), epoch_us(p.tstart)))
              / CAST(epoch_us(s.nts) - epoch_us(s.ts) AS DOUBLE)) AS d
      FROM seg s JOIN p
        ON s.ts < p.tend AND s.nts > p.tstart
      WHERE s.nts IS NOT NULL AND s.nisl = s.island
    ),
    bounds AS (
      SELECT user_id, MIN(ts) AS mn, MAX(ts) AS mx FROM isl GROUP BY user_id
    ),
    pairs AS (
      SELECT b.user_id, p.period_id
      FROM bounds b JOIN p ON b.mn < p.tend AND p.tstart <= b.mx
    ),
    dists AS (
      SELECT pr.user_id, pr.period_id,
             ROUND(COALESCE(SUM(c.d), 0.0), 3) AS dist
      FROM pairs pr LEFT JOIN contrib c
        ON c.user_id = pr.user_id AND c.period_id = pr.period_id
      GROUP BY pr.user_id, pr.period_id
    )
"""


def _segment_period_dists(segs: DataFrame, p: DataFrame) -> DataFrame:
    """Per (vehicle, period) in-period travelled distance over a flat
    segment relation — the codegen twin of
    length(atTime(trip, period)), transliterating _Q8_CONTRIB's IEEE
    ops verbatim: each overlapping segment contributes
    seg_len · (min(t1, tend) − max(t0, tstart)) / (t1 − t0), summed per
    pair; vehicles whose trip span overlaps the period but with no
    contributing segment keep their 0.0 row (the overlaps-filter arm of
    the HOF form). Round-11 re-plan (VERDICT r10 item 2): the
    at_time(point=True) HOF plan spent ~0.8 s per call in CONSTRUCTION
    at sf0.1 (vs 0.2 s execution); this tree is three arithmetic
    expressions. Input segs must carry (vehicle_id, t0, x0, y0, t1, x1,
    y1 [, licence]); p is periods1."""
    extra = [c for c in segs.columns if c == "licence"]
    t0_us = F.unix_micros(F.col("t0"))
    t1_us = F.unix_micros(F.col("t1"))
    ps_us = F.unix_micros(F.col("tstart"))
    te_us = F.unix_micros(F.col("tend"))
    contrib = (
        segs.filter(F.col("t1").isNotNull())
        .crossJoin(F.broadcast(p))
        .filter((F.col("t0") < F.col("tend")) & (F.col("t1") > F.col("tstart")))
        .select(
            "vehicle_id",
            *extra,
            "period_id",
            (
                F.sqrt(
                    F.pow(F.col("x1") - F.col("x0"), 2)
                    + F.pow(F.col("y1") - F.col("y0"), 2)
                )
                * (
                    (F.least(t1_us, te_us) - F.greatest(t0_us, ps_us))
                    / (t1_us - t0_us).cast("double")
                )
            ).alias("d"),
        )
    )
    bounds = segs.groupBy("vehicle_id", *extra).agg(
        F.min("t0").alias("mn"), F.max("t0").alias("mx")
    )
    pairs = bounds.crossJoin(F.broadcast(p)).filter(
        (F.col("mn") < F.col("tend")) & (F.col("tstart") <= F.col("mx"))
    ).select("vehicle_id", *extra, "period_id")
    return (
        pairs.join(contrib, ["vehicle_id", *extra, "period_id"], "left")
        .groupBy("vehicle_id", *extra, "period_id")
        .agg(F.round(F.coalesce(F.sum("d"), F.lit(0.0)), 3).alias("dist"))
    )


@register(
    "bm_q8",
    f"""
    WITH {_Q8_CONTRIB},
    l1 AS ({BM.LICENCES1_SQL})
    SELECT l1.licence, d.period_id, d.dist
    FROM dists d JOIN l1 ON l1.vehicle_id = d.user_id
    """,
)
def bm_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q8: per (licence, period): distance travelled in the period —
    SUM(length(atTime(trip, period))), the flagship composition, over
    the persisted _l1_segments scan (_segment_period_dists)."""
    segs = _l1_segments(spark, sf_dir)
    p = BM.periods1(spark, sf_dir)
    return _segment_period_dists(segs, p).select(
        "licence", "period_id", "dist"
    )


@register(
    "bm_q9",
    f"""
    WITH {_Q8_CONTRIB}
    SELECT period_id, MAX(dist) AS max_dist FROM dists GROUP BY period_id
    """,
)
def bm_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q9: longest in-period distance over all vehicles per period —
    the full-fleet arm of _segment_period_dists (one codegen scan of
    the persisted _segments relation; same r11 re-plan as bm_q8)."""
    segs = _segments(spark, sf_dir).select(
        "vehicle_id", "t0", "x0", "y0", "t1", "x1", "y1"
    )
    p = BM.periods1(spark, sf_dir)
    dists = _segment_period_dists(segs, p)
    return dists.groupBy("period_id").agg(F.max("dist").alias("max_dist"))


# ================================================================ q10
@register(
    "bm_q10",
    _sync_edwithin_oracle(
        tp_filter="",
        prs_cond=(
            "a.user_id IN (SELECT vehicle_id FROM l1)"
            " AND a.user_id <> b.user_id"
        ),
        d2="9.0",
        final="""
    SELECT DISTINCT l1.licence AS licence1, w.u2 AS vehicle_id2
    FROM within w JOIN l1 ON l1.vehicle_id = w.u1
    """,
    ),
)
def bm_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q10: licences1 vehicles vs everyone: pairs that ever came within
    3 units. Plan: `_edwithin_pairs` of the licences1 trips against
    the whole fleet, then licence1."""
    ft = _trips(spark, sf_dir)
    l1 = BM.licences1(spark, sf_dir)
    # plan probe on the licences dim (≤1 trips row per vehicle bounds
    # the probe rows) — memoized; avoids scanning the cached trip arrays
    # or re-firing the dim count job per call
    n_l1 = memo((session_key(spark), sf_dir, "count", "licences1"), l1.count)
    probes = ft.join(F.broadcast(l1), "vehicle_id")
    pairs = _edwithin_pairs(spark, probes, ft, 3.0, n_l1, self_pairs=False)
    return (
        _with_licence(pairs, l1, 1)
        .select("licence1", F.col("vid2").alias("vehicle_id2"))
        .distinct()
    )


# ================================================================ q11/q12
@register(
    "bm_q11",
    f"""
    WITH isl AS ({BM.ISLANDS_SQL}),
    i AS ({BM.INSTANTS1_SQL}),
    pt AS ({BM.POINTS1_SQL}),
    v AS ({BM.VEHICLES_SQL}),
    {_INTERP_ORACLE}
    SELECT pt.point_id, p.instant_id, v.licence
    FROM pos p
    JOIN pt ON p.px = pt.px AND p.py = pt.py
    JOIN v ON v.vehicle_id = p.user_id
    """,
)
def bm_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q11: vehicles exactly AT probe point at probe instant
    (Trip @> stbox(point, instant) + valueAtTimestamp equality)."""
    trips = _trips(spark, sf_dir)
    inst = BM.instants1(spark, sf_dir)
    pts = BM.points1(spark, sf_dir)
    v = BM.vehicles(spark, sf_dir)
    t = trips.crossJoin(F.broadcast(inst)).filter(
        TP.is_defined_at(F.col("trip"), F.col("instant"))
    )
    pos = t.select(
        "vehicle_id",
        "instant_id",
        TP.value_at_timestamp(F.col("trip"), F.col("instant")).alias("pos"),
    )
    at_pt = pos.join(
        F.broadcast(pts),
        (F.col("pos.x") == F.col("px")) & (F.col("pos.y") == F.col("py")),
    )
    return at_pt.join(v, "vehicle_id").select("point_id", "instant_id", "licence")


@register(
    "bm_q12",
    f"""
    WITH isl AS ({BM.ISLANDS_SQL}),
    i AS ({BM.INSTANTS1_SQL}),
    pt AS ({BM.POINTS1_SQL}),
    v AS ({BM.VEHICLES_SQL}),
    {_INTERP_ORACLE},
    at_pt AS (
      SELECT pt.point_id, p.instant_id, v.licence
      FROM pos p
      JOIN pt ON p.px = pt.px AND p.py = pt.py
      JOIN v ON v.vehicle_id = p.user_id
    )
    SELECT a.point_id, a.instant_id,
           a.licence AS licence1, b.licence AS licence2
    FROM at_pt a JOIN at_pt b
      ON a.point_id = b.point_id AND a.instant_id = b.instant_id
     AND a.licence < b.licence
    """,
)
def bm_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q12: pairs of vehicles at the same probe point at the same
    instant. The q11 subtree (interpolation over every trip × instant)
    is materialized once via localCheckpoint — its output is a few rows,
    while its lineage is the most expensive part of the query — so the
    self-join below reads the materialized result twice instead of
    re-deriving the whole subtree per side."""
    at_pt = bm_q11(spark, sf_dir).localCheckpoint()
    a = at_pt.select(
        "point_id", "instant_id", F.col("licence").alias("licence1")
    )
    b = at_pt.select(
        F.col("point_id").alias("point_id_b"),
        F.col("instant_id").alias("instant_id_b"),
        F.col("licence").alias("licence2"),
    )
    return a.join(
        b,
        (F.col("point_id") == F.col("point_id_b"))
        & (F.col("instant_id") == F.col("instant_id_b"))
        & (F.col("licence1") < F.col("licence2")),
    ).select("point_id", "instant_id", "licence1", "licence2")


# ================================================================ q13/q14/q15
@register(
    "bm_q13",
    f"""
    WITH isl AS ({BM.ISLANDS_SQL}),
    p AS ({BM.PERIODS1_SQL}),
    r AS ({BM.REGIONS1_SQL}),
    v AS ({BM.VEHICLES_SQL}),
    seg0 AS (
      SELECT user_id, island, ts AS t0, x AS x0, y AS y0,
             lead(ts) OVER w AS t1, lead(x) OVER w AS x1,
             lead(y) OVER w AS y1, lead(island) OVER w AS isl1
      FROM isl
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    c AS (
      -- Liang-Barsky space window per (segment, region): identical
      -- double-precision formula as TP.intersects_stbox
      SELECT s.user_id, r.region_id,
             CAST(epoch_us(s.t0) AS DOUBLE) AS t0u,
             CAST(epoch_us(s.t1) - epoch_us(s.t0) AS DOUBLE) AS dtu,
             GREATEST(0.0,
               CASE WHEN s.x1 = s.x0
                    THEN CASE WHEN s.x0 >= r.rx0 AND s.x0 <= r.rx1
                              THEN 0.0 ELSE 1.0 END
                    ELSE LEAST((r.rx0 - s.x0)/(s.x1 - s.x0),
                               (r.rx1 - s.x0)/(s.x1 - s.x0)) END,
               CASE WHEN s.y1 = s.y0
                    THEN CASE WHEN s.y0 >= r.ry0 AND s.y0 <= r.ry1
                              THEN 0.0 ELSE 1.0 END
                    ELSE LEAST((r.ry0 - s.y0)/(s.y1 - s.y0),
                               (r.ry1 - s.y0)/(s.y1 - s.y0)) END
             ) AS u0,
             LEAST(1.0,
               CASE WHEN s.x1 = s.x0
                    THEN CASE WHEN s.x0 >= r.rx0 AND s.x0 <= r.rx1
                              THEN 1.0 ELSE 0.0 END
                    ELSE GREATEST((r.rx0 - s.x0)/(s.x1 - s.x0),
                                  (r.rx1 - s.x0)/(s.x1 - s.x0)) END,
               CASE WHEN s.y1 = s.y0
                    THEN CASE WHEN s.y0 >= r.ry0 AND s.y0 <= r.ry1
                              THEN 1.0 ELSE 0.0 END
                    ELSE GREATEST((r.ry0 - s.y0)/(s.y1 - s.y0),
                                  (r.ry1 - s.y0)/(s.y1 - s.y0)) END
             ) AS u1
      FROM seg0 s CROSS JOIN r
      WHERE s.t1 IS NOT NULL AND s.island = s.isl1
    ),
    seg_hits AS (
      SELECT DISTINCT c.user_id, c.region_id, p.period_id
      FROM c JOIN p
        ON c.u0 <= c.u1
       AND GREATEST(CAST(FLOOR(c.t0u + c.u0 * c.dtu) AS BIGINT),
                    epoch_us(p.tstart))
           <= LEAST(CAST(FLOOR(c.t0u + c.u1 * c.dtu) AS BIGINT),
                    epoch_us(p.tend) - 1)
    ),
    ping_hits AS (
      SELECT DISTINCT e.user_id, r.region_id, p.period_id
      FROM isl e
      JOIN p ON e.ts >= p.tstart AND e.ts < p.tend
      JOIN r ON e.x >= r.rx0 AND e.x <= r.rx1
            AND e.y >= r.ry0 AND e.y <= r.ry1
    ),
    hits AS (
      SELECT user_id, region_id, period_id FROM seg_hits
      UNION
      SELECT user_id, region_id, period_id FROM ping_hits
    )
    SELECT DISTINCT h.region_id, h.period_id, v.licence
    FROM hits h JOIN v ON v.vehicle_id = h.user_id
    """,
)
def bm_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q13: vehicles that passed a region during a period — EXACT
    crossing-interpolation semantics (Trip && stbox(region, period) +
    atStbox non-empty): a trajectory that clips a region corner
    between samples counts, with the entry/exit interval floored to µs
    exactly as the oracle's Liang–Barsky SQL does.

    Plan shape (round-4 rework, 4.1 → ~1 s at sf0.1): the per-trip
    `TP.intersects_stbox` HOF evaluated Liang–Barsky over every instant
    once per surviving (trip, probe) pair in the INTERPRETER — and trip
    bboxes cover most of the space, so the bbox prefilter barely cut
    the 1500×100 candidate set. The flat _segments relation keeps the
    identical per-segment IEEE formulas in whole-stage codegen, with a
    segment-level bbox×time prefilter that actually prunes (segments
    are short); `TP.intersects_stbox` remains the per-row API form."""
    segs = _segments(spark, sf_dir)
    p = BM.periods1(spark, sf_dir)
    r = BM.regions1(spark, sf_dir)
    v = BM.vehicles(spark, sf_dir)
    probe = p.crossJoin(r).select(
        "period_id", "region_id", "rx0", "ry0", "rx1", "ry1",
        F.unix_micros(F.col("tstart")).alias("tmin_us"),
        (F.unix_micros(F.col("tend")) - 1).alias("tmax_us"),
    )

    x0, y0 = F.col("x0"), F.col("y0")
    x1, y1 = F.col("x1"), F.col("y1")
    t0u = F.unix_micros(F.col("t0"))
    t1u = F.unix_micros(F.col("t1"))
    dtu = (t1u - t0u).cast("double")

    # identical IEEE axis-window formulas as TP.intersects_stbox.seg_hit
    def axis(v0, v1, lo, hi):
        dv = v1 - v0
        a = (lo - v0) / dv
        c = (hi - v0) / dv
        flat_in = (v0 >= lo) & (v0 <= hi)
        u_lo = F.when(
            dv == 0, F.when(flat_in, F.lit(0.0)).otherwise(F.lit(1.0))
        ).otherwise(F.least(a, c))
        u_hi = F.when(
            dv == 0, F.when(flat_in, F.lit(1.0)).otherwise(F.lit(0.0))
        ).otherwise(F.greatest(a, c))
        return u_lo, u_hi

    ux_lo, ux_hi = axis(x0, x1, F.col("rx0"), F.col("rx1"))
    uy_lo, uy_hi = axis(y0, y1, F.col("ry0"), F.col("ry1"))
    u0 = F.greatest(F.lit(0.0), ux_lo, uy_lo)
    u1 = F.least(F.lit(1.0), ux_hi, uy_hi)
    enter_us = F.floor(t0u.cast("double") + u0 * dtu).cast("long")
    exit_us = F.floor(t0u.cast("double") + u1 * dtu).cast("long")
    seg_hit = (u0 <= u1) & (
        F.greatest(enter_us, F.col("tmin_us"))
        <= F.least(exit_us, F.col("tmax_us"))
    )
    # prefilter: segment bbox × box, segment window × period — cheap
    # codegen conjunctions that prune before the divide-heavy clip
    pre = (
        (F.least(x0, x1) <= F.col("rx1")) & (F.greatest(x0, x1) >= F.col("rx0"))
        & (F.least(y0, y1) <= F.col("ry1")) & (F.greatest(y0, y1) >= F.col("ry0"))
        & (t0u <= F.col("tmax_us")) & (t1u >= F.col("tmin_us"))
    )
    seg_hits = (
        segs.filter(F.col("t1").isNotNull())
        .crossJoin(F.broadcast(probe))
        .filter(pre & seg_hit)
        .select("vehicle_id", "region_id", "period_id")
    )
    single_hits = (
        segs.filter(F.col("n_inst") == 1)
        .crossJoin(F.broadcast(probe))
        .filter(
            (x0 >= F.col("rx0")) & (x0 <= F.col("rx1"))
            & (y0 >= F.col("ry0")) & (y0 <= F.col("ry1"))
            & (t0u >= F.col("tmin_us")) & (t0u <= F.col("tmax_us"))
        )
        .select("vehicle_id", "region_id", "period_id")
    )
    hits = seg_hits.unionAll(single_hits).distinct()
    return (
        hits.join(v, "vehicle_id")
        .select("region_id", "period_id", "licence")
        .distinct()
    )


@register(
    "bm_q14",
    f"""
    WITH isl AS ({BM.ISLANDS_SQL}),
    i AS ({BM.INSTANTS1_SQL}),
    r AS ({BM.REGIONS1_SQL}),
    v AS ({BM.VEHICLES_SQL}),
    {_INTERP_ORACLE}
    SELECT DISTINCT r.region_id, p.instant_id, v.licence
    FROM pos p
    JOIN r ON p.px >= r.rx0 AND p.px <= r.rx1 AND p.py >= r.ry0 AND p.py <= r.ry1
    JOIN v ON v.vehicle_id = p.user_id
    """,
)
def bm_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q14: vehicles inside a region at a probe instant
    (interpolated position ∈ region)."""
    trips = _trips(spark, sf_dir)
    inst = BM.instants1(spark, sf_dir)
    r = BM.regions1(spark, sf_dir)
    v = BM.vehicles(spark, sf_dir)
    t = trips.crossJoin(F.broadcast(inst)).filter(
        TP.is_defined_at(F.col("trip"), F.col("instant"))
    )
    pos = t.select(
        "vehicle_id",
        "instant_id",
        TP.value_at_timestamp(F.col("trip"), F.col("instant")).alias("pos"),
    )
    in_r = pos.crossJoin(F.broadcast(r)).filter(
        (F.col("pos.x") >= F.col("rx0")) & (F.col("pos.x") <= F.col("rx1"))
        & (F.col("pos.y") >= F.col("ry0")) & (F.col("pos.y") <= F.col("ry1"))
    )
    return (
        in_r.join(v, "vehicle_id")
        .select("region_id", "instant_id", "licence")
        .distinct()
    )


# ---------------------------------------------------------------- polygons
# Shared oracle fragments for the polygon-region variants. The edges CTE
# pairs each polygon vertex with its ring successor; the ray-cast and
# proper-crossing formulas are the exact ANSI transliterations of
# functions/polygon.py (same IEEE ops in the same order — vertices are
# multiples of 0.5, positions come from the shared interpolation
# formula, so the verdicts match bit-for-bit).
_POLY_EDGES_SQL = f"""
    rv AS ({BM.REGIONS_POLY_SQL}),
    edges AS (
      SELECT a.region_id, a.vx AS ax, a.vy AS ay, b.vx AS bx, b.vy AS by_
      FROM rv a JOIN rv b
        ON a.region_id = b.region_id AND b.j = (a.j + 1) % 8
    )
"""


def _sql_raycast(px: str, py: str) -> str:
    """SUM-of-crossings % 2 = 1 ray-cast HAVING clause (guarded CASE —
    the divide only evaluates when the edge straddles py)."""
    return f"""
      SUM(CASE WHEN (e.ay > {py}) <> (e.by_ > {py})
               THEN CASE WHEN {px} < (e.bx - e.ax) * ({py} - e.ay)
                                     / (e.by_ - e.ay) + e.ax
                         THEN 1 ELSE 0 END
               ELSE 0 END) % 2 = 1
    """


def _sql_proper_cross(px, py, qx, qy) -> str:
    """Strict segment×edge crossing (orientation sign tests) against
    edges e — transliteration of polygon._proper_cross."""
    d1 = f"(({qx}) - ({px})) * (e.ay - ({py})) - (({qy}) - ({py})) * (e.ax - ({px}))"
    d2 = f"(({qx}) - ({px})) * (e.by_ - ({py})) - (({qy}) - ({py})) * (e.bx - ({px}))"
    d3 = f"(e.bx - e.ax) * (({py}) - e.ay) - (e.by_ - e.ay) * (({px}) - e.ax)"
    d4 = f"(e.bx - e.ax) * (({qy}) - e.ay) - (e.by_ - e.ay) * (({qx}) - e.ax)"
    return f"""
      ((({d1}) > 0 AND ({d2}) < 0) OR (({d1}) < 0 AND ({d2}) > 0))
      AND ((({d3}) > 0 AND ({d4}) < 0) OR (({d3}) < 0 AND ({d4}) > 0))
    """


@register(
    "bm_q14_poly",
    f"""
    WITH isl AS ({BM.ISLANDS_SQL}),
    i AS ({BM.INSTANTS1_SQL}),
    v AS ({BM.VEHICLES_SQL}),
    {_POLY_EDGES_SQL},
    {_INTERP_ORACLE},
    hits AS (
      SELECT p.user_id, p.instant_id, e.region_id
      FROM pos p CROSS JOIN edges e
      GROUP BY p.user_id, p.instant_id, e.region_id, p.px, p.py
      HAVING {_sql_raycast('p.px', 'p.py')}
    )
    SELECT DISTINCT h.region_id, h.instant_id, v.licence
    FROM hits h JOIN v ON v.vehicle_id = h.user_id
    """,
)
def bm_q14_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q14 over REAL polygon regions (the reference's shape —
    ST_Contains(polygon, valueAtTimestamp(trip, instant)),
    benchmark/BerlinMOD/sql/queries/query_14.sql:14-17): vehicles whose
    interpolated position at a probe instant lies inside a star-shaped
    polygon region. Ray-cast point-in-polygon, bbox-gated, over a
    broadcast 10-row polygon dim."""
    from .functions import polygon as PG

    trips = _trips(spark, sf_dir)
    inst = BM.instants1(spark, sf_dir)
    polys = BM.regions_poly(spark, sf_dir)
    v = BM.vehicles(spark, sf_dir)
    bx0, by0, bx1, by1 = PG.ring_bbox(F.col("ring"))
    pr = polys.select(
        "region_id",
        PG.ring_edges(F.col("ring")).alias("edges"),
        bx0.alias("bx0"), by0.alias("by0"),
        bx1.alias("bx1"), by1.alias("by1"),
    )
    t = trips.crossJoin(F.broadcast(inst)).filter(
        TP.is_defined_at(F.col("trip"), F.col("instant"))
    )
    pos = t.select(
        "vehicle_id",
        "instant_id",
        TP.value_at_timestamp(F.col("trip"), F.col("instant")).alias("pos"),
    )
    in_r = pos.crossJoin(F.broadcast(pr)).filter(
        (F.col("pos.x") >= F.col("bx0")) & (F.col("pos.x") <= F.col("bx1"))
        & (F.col("pos.y") >= F.col("by0")) & (F.col("pos.y") <= F.col("by1"))
        & PG.point_in_edges(F.col("pos.x"), F.col("pos.y"), F.col("edges"))
    )
    return (
        in_r.join(v, "vehicle_id")
        .select("region_id", "instant_id", "licence")
        .distinct()
    )


@register(
    "bm_q13_poly",
    f"""
    WITH isl AS ({BM.ISLANDS_SQL}),
    p AS ({BM.PERIODS1_SQL}),
    v AS ({BM.VEHICLES_SQL}),
    {_POLY_EDGES_SQL},
    seg0 AS (
      SELECT user_id, island, ts AS t0, x AS x0, y AS y0,
             lead(ts) OVER w AS t1, lead(x) OVER w AS x1,
             lead(y) OVER w AS y1, lead(island) OVER w AS isl1
      FROM isl
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    seg AS (
      SELECT s.user_id, p.period_id, s.t0, s.x0, s.y0, s.t1, s.x1, s.y1,
             p.tstart, p.tend
      FROM seg0 s JOIN p
        ON s.t1 IS NOT NULL AND s.island = s.isl1
       AND epoch_us(s.t1) >= epoch_us(p.tstart)
       AND epoch_us(s.t0) <= epoch_us(p.tend) - 1
    ),
    clip AS (
      SELECT user_id, period_id,
        CASE WHEN epoch_us(t0) >= epoch_us(tstart) THEN x0
             ELSE x0 + (x1 - x0) * ((epoch_us(tstart) - epoch_us(t0))
                  / CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE)) END AS cx0,
        CASE WHEN epoch_us(t0) >= epoch_us(tstart) THEN y0
             ELSE y0 + (y1 - y0) * ((epoch_us(tstart) - epoch_us(t0))
                  / CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE)) END AS cy0,
        CASE WHEN epoch_us(t1) <= epoch_us(tend) - 1 THEN x1
             ELSE x0 + (x1 - x0) * (((epoch_us(tend) - 1) - epoch_us(t0))
                  / CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE)) END AS cx1,
        CASE WHEN epoch_us(t1) <= epoch_us(tend) - 1 THEN y1
             ELSE y0 + (y1 - y0) * (((epoch_us(tend) - 1) - epoch_us(t0))
                  / CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE)) END AS cy1
      FROM seg
    ),
    verts AS (
      -- UNION (not UNION ALL): a raw ping that also appears as a clip endpoint
      -- must be counted ONCE, else the ray-cast crossing SUM doubles and the
      -- % 2 = 1 parity in vhit flips inside verdicts to outside.
      SELECT e.user_id, p.period_id, e.x AS wx, e.y AS wy
      FROM isl e JOIN p ON e.ts >= p.tstart AND e.ts < p.tend
      UNION
      SELECT user_id, period_id, cx0, cy0 FROM clip
      UNION
      SELECT user_id, period_id, cx1, cy1 FROM clip
    ),
    vhit AS (
      SELECT w.user_id, w.period_id, e.region_id
      FROM verts w CROSS JOIN edges e
      GROUP BY w.user_id, w.period_id, e.region_id, w.wx, w.wy
      HAVING {_sql_raycast('w.wx', 'w.wy')}
    ),
    shit AS (
      SELECT DISTINCT c.user_id, c.period_id, e.region_id
      FROM clip c JOIN edges e
        ON {_sql_proper_cross('c.cx0', 'c.cy0', 'c.cx1', 'c.cy1')}
    ),
    hits AS (
      SELECT user_id, period_id, region_id FROM vhit
      UNION
      SELECT user_id, period_id, region_id FROM shit
    )
    SELECT DISTINCT h.region_id, h.period_id, v.licence
    FROM hits h JOIN v ON v.vehicle_id = h.user_id
    """,
)
def bm_q13_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q13 over REAL polygon regions with EXACT atTime semantics (the
    reference's shape — ST_Intersects(trajectory(atTime(trip,
    period))::GEOMETRY, polygon), query_13.sql:14-18): the trip is
    clipped to the period with interpolated boundary instants, and the
    clipped trajectory intersects the polygon iff any vertex falls
    inside or any segment properly crosses an edge.

    Plan shape (round-4 rework, 3.2 → ~1 s at sf0.1, replaces the
    per-(vehicle, period) at_time HOF + localCheckpoint barrier): the
    shared flat _segments relation is clipped to each period with the
    ORACLE's own interpolation CASE (whole-stage codegen — identical
    IEEE operand order), then joined to the broadcast 10-polygon
    edge-array dim behind a clip-bbox × ring-bbox prefilter; a
    (vehicle, period, region) hit is either clip endpoint ray-casting
    inside or the clipped segment properly crossing an edge (tiny HOFs
    over the 8-edge ring). Single-instant islands keep the raw-vertex
    arm. `at_time` + `PG.tpoint_intersects_edges` remain the per-row
    API forms."""
    from .functions import polygon as PG

    segs = _segments(spark, sf_dir)
    p = BM.periods1(spark, sf_dir)
    polys = BM.regions_poly(spark, sf_dir)
    v = BM.vehicles(spark, sf_dir)
    per = p.select(
        "period_id",
        F.unix_micros(F.col("tstart")).alias("ts_us"),
        (F.unix_micros(F.col("tend")) - 1).alias("te1_us"),
    )
    bx0, by0, bx1, by1 = PG.ring_bbox(F.col("ring"))
    pr = polys.select(
        "region_id",
        PG.ring_edges(F.col("ring")).alias("edges"),
        bx0.alias("bx0"), by0.alias("by0"),
        bx1.alias("bx1"), by1.alias("by1"),
    )

    x0, y0 = F.col("x0"), F.col("y0")
    x1, y1 = F.col("x1"), F.col("y1")
    t0u = F.unix_micros(F.col("t0"))
    t1u = F.unix_micros(F.col("t1"))
    dtu = (t1u - t0u).cast("double")
    # the oracle's clip CTE, operand for operand
    frac0 = (F.col("ts_us") - t0u) / dtu
    frac1 = (F.col("te1_us") - t0u) / dtu
    cx0 = F.when(t0u >= F.col("ts_us"), x0).otherwise(x0 + (x1 - x0) * frac0)
    cy0 = F.when(t0u >= F.col("ts_us"), y0).otherwise(y0 + (y1 - y0) * frac0)
    cx1 = F.when(t1u <= F.col("te1_us"), x1).otherwise(x0 + (x1 - x0) * frac1)
    cy1 = F.when(t1u <= F.col("te1_us"), y1).otherwise(y0 + (y1 - y0) * frac1)
    clip = (
        segs.filter(F.col("t1").isNotNull())
        .crossJoin(F.broadcast(per))
        .filter((t1u >= F.col("ts_us")) & (t0u <= F.col("te1_us")))
        .select(
            "vehicle_id", "period_id",
            cx0.alias("cx0"), cy0.alias("cy0"),
            cx1.alias("cx1"), cy1.alias("cy1"),
        )
    )
    c0x, c0y = F.col("cx0"), F.col("cy0")
    c1x, c1y = F.col("cx1"), F.col("cy1")
    cand = clip.crossJoin(F.broadcast(pr)).filter(
        (F.least(c0x, c1x) <= F.col("bx1"))
        & (F.greatest(c0x, c1x) >= F.col("bx0"))
        & (F.least(c0y, c1y) <= F.col("by1"))
        & (F.greatest(c0y, c1y) >= F.col("by0"))
    )
    vert_in = PG.point_in_edges(c0x, c0y, F.col("edges")) | PG.point_in_edges(
        c1x, c1y, F.col("edges")
    )
    crossed = F.exists(
        F.col("edges"),
        lambda e: PG._proper_cross(
            c0x, c0y, c1x, c1y,
            e["a"]["x"], e["a"]["y"], e["b"]["x"], e["b"]["y"],
        ),
    )
    seg_hits = cand.filter(vert_in | crossed).select(
        "vehicle_id", "period_id", "region_id"
    )
    single_hits = (
        segs.filter(F.col("n_inst") == 1)
        .crossJoin(F.broadcast(per))
        .filter((t0u >= F.col("ts_us")) & (t0u <= F.col("te1_us")))
        .crossJoin(F.broadcast(pr))
        .filter(
            (x0 >= F.col("bx0")) & (x0 <= F.col("bx1"))
            & (y0 >= F.col("by0")) & (y0 <= F.col("by1"))
            & PG.point_in_edges(x0, y0, F.col("edges"))
        )
        .select("vehicle_id", "period_id", "region_id")
    )
    hits = seg_hits.unionAll(single_hits).distinct()
    return (
        hits.join(v, "vehicle_id")
        .select("region_id", "period_id", "licence")
        .distinct()
    )


@register(
    "bm_q15",
    f"""
    WITH isl AS ({BM.ISLANDS_SQL}),
    pt AS ({BM.POINTS1_SQL}),
    p AS ({BM.PERIODS1_SQL}),
    v AS ({BM.VEHICLES_SQL}),
    pseg AS ({_PSEG_SQL}),
    phit AS ({_PHIT_SQL})
    SELECT DISTINCT h.point_id, p.period_id, v.licence
    FROM phit h
    JOIN p ON h.hit_us >= epoch_us(p.tstart) AND h.hit_us < epoch_us(p.tend)
    JOIN v ON v.vehicle_id = h.user_id
    """,
)
def bm_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q15: vehicles that passed a probe point during a period — exact
    pass-through hit instants (µs-floored interpolation)."""
    hits = _point_hits(spark, sf_dir)
    p = BM.periods1(spark, sf_dir)
    v = BM.vehicles(spark, sf_dir)
    in_p = hits.crossJoin(F.broadcast(p)).filter(
        (F.col("hit_us") >= F.unix_micros(F.col("tstart")))
        & (F.col("hit_us") < F.unix_micros(F.col("tend")))
    )
    return (
        in_p.join(v, "vehicle_id")
        .select("point_id", "period_id", "licence")
        .distinct()
    )


# ================================================================ q16
# Liang–Barsky u-window per (segment, region box) — the identical
# double-precision formula as TP.intersects_stbox (also used in the
# bm_q13 oracle above).
_LB_C_SQL = """
      SELECT s.user_id, r.region_id,
             CAST(epoch_us(s.t0) AS DOUBLE) AS t0u,
             CAST(epoch_us(s.t1) - epoch_us(s.t0) AS DOUBLE) AS dtu,
             GREATEST(0.0,
               CASE WHEN s.x1 = s.x0
                    THEN CASE WHEN s.x0 >= r.rx0 AND s.x0 <= r.rx1
                              THEN 0.0 ELSE 1.0 END
                    ELSE LEAST((r.rx0 - s.x0)/(s.x1 - s.x0),
                               (r.rx1 - s.x0)/(s.x1 - s.x0)) END,
               CASE WHEN s.y1 = s.y0
                    THEN CASE WHEN s.y0 >= r.ry0 AND s.y0 <= r.ry1
                              THEN 0.0 ELSE 1.0 END
                    ELSE LEAST((r.ry0 - s.y0)/(s.y1 - s.y0),
                               (r.ry1 - s.y0)/(s.y1 - s.y0)) END
             ) AS u0,
             LEAST(1.0,
               CASE WHEN s.x1 = s.x0
                    THEN CASE WHEN s.x0 >= r.rx0 AND s.x0 <= r.rx1
                              THEN 1.0 ELSE 0.0 END
                    ELSE GREATEST((r.rx0 - s.x0)/(s.x1 - s.x0),
                                  (r.rx1 - s.x0)/(s.x1 - s.x0)) END,
               CASE WHEN s.y1 = s.y0
                    THEN CASE WHEN s.y0 >= r.ry0 AND s.y0 <= r.ry1
                              THEN 1.0 ELSE 0.0 END
                    ELSE GREATEST((r.ry0 - s.y0)/(s.y1 - s.y0),
                                  (r.ry1 - s.y0)/(s.y1 - s.y0)) END
             ) AS u1
      FROM seg0 s CROSS JOIN r
      WHERE s.t1 IS NOT NULL AND s.island = s.isl1
"""


@register(
    "bm_q16",
    f"""
    WITH isl AS ({{ISLANDS}}),
    v AS ({{VEHICLES}}),
    l1 AS ({{LICENCES1}}),
    l2 AS ({{LICENCES2}}),
    p AS (SELECT * FROM ({{PERIODS1}}) WHERE period_id <= 2),
    r AS (SELECT * FROM ({{REGIONS1}}) WHERE region_id <= 2),
    seg0 AS (
      SELECT user_id, island, ts AS t0, x AS x0, y AS y0,
             lead(ts) OVER w AS t1, lead(x) OVER w AS x1,
             lead(y) OVER w AS y1, lead(island) OVER w AS isl1
      FROM isl
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    c AS ({_LB_C_SQL}),
    seg_hits AS (
      SELECT DISTINCT c.user_id, c.region_id, p.period_id
      FROM c JOIN p
        ON c.u0 <= c.u1
       AND GREATEST(CAST(FLOOR(c.t0u + c.u0 * c.dtu) AS BIGINT),
                    epoch_us(p.tstart))
           <= LEAST(CAST(FLOOR(c.t0u + c.u1 * c.dtu) AS BIGINT),
                    epoch_us(p.tend) - 1)
    ),
    ping_hits AS (
      SELECT DISTINCT e.user_id, r.region_id, p.period_id
      FROM isl e
      JOIN p ON e.ts >= p.tstart AND e.ts < p.tend
      JOIN r ON e.x >= r.rx0 AND e.x <= r.rx1
            AND e.y >= r.ry0 AND e.y <= r.ry1
    ),
    pres AS (
      SELECT user_id, region_id, period_id FROM seg_hits
      UNION
      SELECT user_id, region_id, period_id FROM ping_hits
    ),
    cand AS (
      SELECT DISTINCT a.licence AS licence1, a.vehicle_id AS u1,
             b.licence AS licence2, b.vehicle_id AS u2,
             pa.region_id, pa.period_id
      FROM pres pa JOIN l1 a ON a.vehicle_id = pa.user_id
      JOIN pres pb ON pb.region_id = pa.region_id
                  AND pb.period_id = pa.period_id
      JOIN l2 b ON b.vehicle_id = pb.user_id
      WHERE a.licence < b.licence
    ),
    upairs AS (SELECT DISTINCT u1, u2, period_id FROM cand),
    tp AS (
      SELECT e.user_id, e.ts, e.x, e.y, e.island,
             CAST(epoch_us(e.ts) AS DOUBLE) / 1000000.0 AS tsd
      FROM isl e
      WHERE e.user_id IN (SELECT vehicle_id FROM l1
                          UNION SELECT vehicle_id FROM l2)
    ),
    bounds AS (
      SELECT user_id, MIN(ts) AS mn, MAX(ts) AS mx FROM tp GROUP BY user_id
    ),
    -- synchronized window of the two period-clipped trips: at_time
    -- emits interpolated boundary instants, so the window bounds are
    -- themselves knots (engine: temporal.at_time + _sync_segments)
    win AS (
      SELECT up.u1, up.u2, up.period_id,
             GREATEST(b1.mn, b2.mn, p.tstart) AS lo,
             LEAST(b1.mx, b2.mx, p.tend) AS hi
      FROM upairs up
      JOIN bounds b1 ON b1.user_id = up.u1
      JOIN bounds b2 ON b2.user_id = up.u2
      JOIN p ON p.period_id = up.period_id
    ),
    gaps AS (
      SELECT user_id, pts AS glo, ts AS ghi,
             CAST(epoch_us(pts) AS DOUBLE) / 1000000.0 AS glod,
             CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS ghid
      FROM (
        SELECT user_id, ts, island,
               lag(ts) OVER w AS pts, lag(island) OVER w AS pisl
        FROM tp WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ) WHERE pisl IS NOT NULL AND pisl <> island AND ts > pts
    ),
    knots AS (
      SELECT w.u1, w.u2, w.period_id, t.ts,
             CAST(epoch_us(t.ts) AS DOUBLE) / 1000000.0 AS tsd
      FROM win w JOIN tp t
        ON t.user_id IN (w.u1, w.u2) AND t.ts >= w.lo AND t.ts <= w.hi
      GROUP BY w.u1, w.u2, w.period_id, t.ts
      UNION
      SELECT u1, u2, period_id, lo,
             CAST(epoch_us(lo) AS DOUBLE) / 1000000.0
      FROM win WHERE lo <= hi
      UNION
      SELECT u1, u2, period_id, hi,
             CAST(epoch_us(hi) AS DOUBLE) / 1000000.0
      FROM win WHERE lo <= hi
    ),
    kpos AS (
      SELECT k.u1, k.u2, k.period_id, k.ts, k.tsd,
        CASE WHEN a1.tsd = b1.tsd THEN b1.x
             ELSE (a1.x - b1.x)/(a1.tsd - b1.tsd)*(k.tsd - b1.tsd) + b1.x END AS pax,
        CASE WHEN a1.tsd = b1.tsd THEN b1.y
             ELSE (a1.y - b1.y)/(a1.tsd - b1.tsd)*(k.tsd - b1.tsd) + b1.y END AS pay,
        CASE WHEN a2.tsd = b2.tsd THEN b2.x
             ELSE (a2.x - b2.x)/(a2.tsd - b2.tsd)*(k.tsd - b2.tsd) + b2.x END AS pbx,
        CASE WHEN a2.tsd = b2.tsd THEN b2.y
             ELSE (a2.y - b2.y)/(a2.tsd - b2.tsd)*(k.tsd - b2.tsd) + b2.y END AS pby,
        NOT EXISTS (SELECT 1 FROM gaps g
                    WHERE g.user_id IN (k.u1, k.u2)
                      AND k.ts > g.glo AND k.ts < g.ghi) AS vk
      FROM knots k
      ASOF JOIN tp b1 ON b1.user_id = k.u1 AND b1.ts <= k.ts
      ASOF JOIN tp a1 ON a1.user_id = k.u1 AND a1.ts >= k.ts
      ASOF JOIN tp b2 ON b2.user_id = k.u2 AND b2.ts <= k.ts
      ASOF JOIN tp a2 ON a2.user_id = k.u2 AND a2.ts >= k.ts
    ),
    segd AS (
      SELECT u1, u2, period_id, ts, tsd, pax, pay, pbx, pby, vk,
             lead(tsd) OVER w AS ntsd,
             lead(pax) OVER w AS npax, lead(pay) OVER w AS npay,
             lead(pbx) OVER w AS npbx, lead(pby) OVER w AS npby
      FROM kpos WINDOW w AS (PARTITION BY u1, u2, period_id ORDER BY tsd)
    ),
    -- a zero of the synchronized distance: exact contact at a valid
    -- knot, or a segment quadratic whose clamped vertex hits zero
    contact AS (
      SELECT DISTINCT u1, u2, period_id FROM segd
      WHERE vk AND pax = pbx AND pay = pby
      UNION
      SELECT DISTINCT u1, u2, period_id FROM (
        SELECT s.u1, s.u2, s.period_id,
               s.pax - s.pbx AS dx0, s.pay - s.pby AS dy0,
               (s.npax - s.npbx) - (s.pax - s.pbx) AS vx,
               (s.npay - s.npby) - (s.pay - s.pby) AS vy
        FROM segd s
        WHERE s.ntsd IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM gaps g
                          WHERE g.user_id IN (s.u1, s.u2)
                            AND (s.tsd + s.ntsd) * 0.5 > g.glod
                            AND (s.tsd + s.ntsd) * 0.5 < g.ghid)
      ) q
      WHERE (
        (dx0 + vx * (CASE WHEN vx*vx + vy*vy > 0
                          THEN GREATEST(0.0, LEAST(1.0,
                               -(dx0*vx + dy0*vy) / (vx*vx + vy*vy)))
                          ELSE 0.0 END))
        * (dx0 + vx * (CASE WHEN vx*vx + vy*vy > 0
                            THEN GREATEST(0.0, LEAST(1.0,
                                 -(dx0*vx + dy0*vy) / (vx*vx + vy*vy)))
                            ELSE 0.0 END))
        + (dy0 + vy * (CASE WHEN vx*vx + vy*vy > 0
                            THEN GREATEST(0.0, LEAST(1.0,
                                 -(dx0*vx + dy0*vy) / (vx*vx + vy*vy)))
                            ELSE 0.0 END))
        * (dy0 + vy * (CASE WHEN vx*vx + vy*vy > 0
                            THEN GREATEST(0.0, LEAST(1.0,
                                 -(dx0*vx + dy0*vy) / (vx*vx + vy*vy)))
                            ELSE 0.0 END))
      ) <= 0.0
    )
    SELECT DISTINCT c.period_id, c.region_id, c.licence1, c.licence2
    FROM cand c
    WHERE NOT EXISTS (
      SELECT 1 FROM contact x
      WHERE x.u1 = c.u1 AND x.u2 = c.u2 AND x.period_id = c.period_id
    )
    """.format(
        ISLANDS=BM.ISLANDS_SQL, VEHICLES=BM.VEHICLES_SQL,
        LICENCES1=BM.LICENCES1_SQL, LICENCES2=BM.LICENCES2_SQL,
        PERIODS1=BM.PERIODS1_SQL, REGIONS1=BM.REGIONS1_SQL,
    ),
)
def bm_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q16: licence pairs both present in a region during a period whose
    clipped trips never meet (aDisjoint)."""
    from .operators.tpoint_pairs import a_disjoint, flat_cols

    # persisted per-trip bbox (bb) from _trips feeds the prefilter
    trips = _trips(spark, sf_dir).select("vehicle_id", "trip", "bb")
    l1 = BM.licences1(spark, sf_dir)
    l2 = BM.licences2(spark, sf_dir)
    # deterministic 3×3 probe subset (filter, not limit — an order-free
    # limit is nondeterministic in principle and unverifiable in SQL)
    p = BM.periods1(spark, sf_dir).filter(F.col("period_id") <= 2)
    r = BM.regions1(spark, sf_dir).filter(F.col("region_id") <= 2)
    probe = p.crossJoin(r).select(
        "period_id", "region_id", "tstart", "tend",
        B.stbox(
            xmin=F.col("rx0"), ymin=F.col("ry0"),
            xmax=F.col("rx1"), ymax=F.col("ry1"),
            tmin=F.col("tstart"),
            tmax=F.col("tend") - F.expr("INTERVAL 1 MICROSECOND"),
        ).alias("box"),
    )

    # ONE tagged presence relation for both licence sets, materialized
    # once: without a barrier the at_time clip and the intersects
    # prefilter re-evaluate per pair row under the join, and two
    # separate checkpoints pay the probe/trip evaluation and the eager
    # job twice (measured ~1.5 s each at sf0.1 for ≤90-row inputs —
    # pure plan/job overhead, halved by the shared materialization)
    lics = l1.withColumn("_side", F.lit(1)).union(
        l2.withColumn("_side", F.lit(2))
    )
    sp = S.span(F.col("tstart"), F.col("tend"))
    pres = (
        trips.join(F.broadcast(lics), "vehicle_id")
        .crossJoin(F.broadcast(probe))
        .filter(
            B.stbox_overlaps(F.col("bb"), F.col("box"))
            & TP.intersects_stbox(F.col("trip"), F.col("box"))
        )
        .select(
            "_side",
            "licence",
            "vehicle_id",
            "period_id",
            "region_id",
            TT.at_time(F.col("trip"), sp, point=True).alias("clip"),
        )
        .localCheckpoint()
    )

    def side(n: int) -> DataFrame:
        return pres.filter(F.col("_side") == n).select(
            F.col("licence").alias(f"licence{n}"),
            F.col("vehicle_id").alias(f"vid{n}"),
            "period_id",
            "region_id",
            F.col("clip").alias(f"clip{n}"),
        )

    a, b = side(1), side(2)
    pairs = a.join(F.broadcast(b), ["period_id", "region_id"]).filter(
        F.col("licence1") < F.col("licence2")
    )
    return (
        pairs.filter(a_disjoint(*flat_cols(F.col("clip1")), *flat_cols(F.col("clip2"))))
        .select("period_id", "region_id", "licence1", "licence2")
        .distinct()
    )


# ================================================================ q17
@register(
    "bm_q17",
    f"""
    WITH isl AS ({BM.ISLANDS_SQL}), pt AS ({BM.POINTS1_SQL}),
    pseg AS ({_PSEG_SQL}),
    phit AS ({_PHIT_SQL}),
    -- materialize distinct pairs before counting: COUNT(DISTINCT ..)
    -- directly over the UNION shape trips a DuckDB internal assertion
    pp AS (SELECT DISTINCT user_id, point_id FROM phit),
    pc AS (
      SELECT point_id, COUNT(*) AS hits FROM pp GROUP BY point_id
    )
    SELECT point_id, hits FROM pc
    WHERE hits = (SELECT MAX(hits) FROM pc)
    """,
)
def bm_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q17: most-visited probe point (COUNT DISTINCT + scalar-subquery
    max → window max); exact pass-through hits."""
    hits = _point_hits(spark, sf_dir)
    pc = hits.groupBy("point_id").agg(
        F.countDistinct("vehicle_id").alias("hits")
    )
    # scalar-subquery max as a broadcast single-row join (an ungrouped
    # window would move all of pc through one WindowExec partition)
    mx = pc.agg(F.max("hits").alias("_mx"))
    return (
        pc.join(F.broadcast(mx), F.col("hits") == F.col("_mx"))
        .drop("_mx")
    )


# ================================================================ atGeometry
# Engine-side atGeometry(TGEOMPOINT, LINESTRING) restriction (time
# dimension): how long, and in how many maximal intervals, each vehicle
# travels ON the probe line y=50, x∈[0,100]. The oracle transliterates
# the identical IEEE formulas (collinear projection overlap + crossing
# parameter + µs floor) and the identical closed-span merge.
_LINE_AX, _LINE_AY, _LINE_BX, _LINE_BY = 0.0, 50.0, 100.0, 50.0


@register(
    "at_line_duration",
    f"""
    WITH isl AS (
      SELECT * FROM ({BM.ISLANDS_SQL}) WHERE user_id % 7 = 0
    ),
    seg0 AS (
      SELECT user_id, island, ts AS t0, x AS x0, y AS y0,
             lead(ts) OVER w AS t1, lead(x) OVER w AS x1,
             lead(y) OVER w AS y1, lead(island) OVER w AS isl1
      FROM isl
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    -- per motion segment: parameter interval on the probe edge
    -- (identical double ops as PG.on_line_spanset.seg_edge_span)
    segc AS (
      SELECT user_id,
             CAST(epoch_us(t0) AS DOUBLE) AS t0u,
             CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE) AS dtu,
             (x1 - x0) * ({_LINE_BY} - {_LINE_AY})
               - (y1 - y0) * ({_LINE_BX} - {_LINE_AX}) AS crs,
             (x0 - {_LINE_AX}) * ({_LINE_BY} - {_LINE_AY})
               - (y0 - {_LINE_AY}) * ({_LINE_BX} - {_LINE_AX}) AS a0,
             (x1 - {_LINE_AX}) * ({_LINE_BY} - {_LINE_AY})
               - (y1 - {_LINE_AY}) * ({_LINE_BX} - {_LINE_AX}) AS a1,
             CASE WHEN ABS({_LINE_BX} - {_LINE_AX}) >= ABS({_LINE_BY} - {_LINE_AY})
                  THEN CASE WHEN {_LINE_BX} - {_LINE_AX} <> 0.0
                            THEN (x0 - {_LINE_AX}) / ({_LINE_BX} - {_LINE_AX})
                            ELSE 0.0 END
                  ELSE CASE WHEN {_LINE_BY} - {_LINE_AY} <> 0.0
                            THEN (y0 - {_LINE_AY}) / ({_LINE_BY} - {_LINE_AY})
                            ELSE 0.0 END END AS u0,
             CASE WHEN ABS({_LINE_BX} - {_LINE_AX}) >= ABS({_LINE_BY} - {_LINE_AY})
                  THEN CASE WHEN {_LINE_BX} - {_LINE_AX} <> 0.0
                            THEN (x1 - {_LINE_AX}) / ({_LINE_BX} - {_LINE_AX})
                            ELSE 0.0 END
                  ELSE CASE WHEN {_LINE_BY} - {_LINE_AY} <> 0.0
                            THEN (y1 - {_LINE_AY}) / ({_LINE_BY} - {_LINE_AY})
                            ELSE 0.0 END END AS u1,
             x0, y0, x1, y1
      FROM seg0 WHERE t1 IS NOT NULL AND island = isl1
    ),
    iv AS (
      SELECT user_id, t0u, dtu,
        CASE
          WHEN crs = 0.0 AND a0 = 0.0 AND a1 = 0.0 THEN
            CASE WHEN u1 - u0 = 0.0 THEN
                   CASE WHEN u0 >= 0.0 AND u0 <= 1.0 THEN 0.0 END
                 ELSE
                   CASE WHEN GREATEST(LEAST((0.0 - u0) / (u1 - u0),
                                            (1.0 - u0) / (u1 - u0)), 0.0)
                          <= LEAST(GREATEST((0.0 - u0) / (u1 - u0),
                                            (1.0 - u0) / (u1 - u0)), 1.0)
                        THEN GREATEST(LEAST((0.0 - u0) / (u1 - u0),
                                            (1.0 - u0) / (u1 - u0)), 0.0) END
            END
          WHEN crs <> 0.0 THEN
            CASE WHEN a0 / (a0 - a1) >= 0.0 AND a0 / (a0 - a1) <= 1.0
                  AND (CASE WHEN ABS({_LINE_BX} - {_LINE_AX})
                              >= ABS({_LINE_BY} - {_LINE_AY})
                            THEN CASE WHEN {_LINE_BX} - {_LINE_AX} <> 0.0
                                      THEN ((x0 + (x1 - x0) * (a0 / (a0 - a1)))
                                            - {_LINE_AX}) / ({_LINE_BX} - {_LINE_AX})
                                      ELSE 0.0 END
                            ELSE CASE WHEN {_LINE_BY} - {_LINE_AY} <> 0.0
                                      THEN ((y0 + (y1 - y0) * (a0 / (a0 - a1)))
                                            - {_LINE_AY}) / ({_LINE_BY} - {_LINE_AY})
                                      ELSE 0.0 END END) BETWEEN 0.0 AND 1.0
                 THEN a0 / (a0 - a1) END
        END AS s_lo,
        CASE
          WHEN crs = 0.0 AND a0 = 0.0 AND a1 = 0.0 THEN
            CASE WHEN u1 - u0 = 0.0 THEN
                   CASE WHEN u0 >= 0.0 AND u0 <= 1.0 THEN 1.0 END
                 ELSE
                   CASE WHEN GREATEST(LEAST((0.0 - u0) / (u1 - u0),
                                            (1.0 - u0) / (u1 - u0)), 0.0)
                          <= LEAST(GREATEST((0.0 - u0) / (u1 - u0),
                                            (1.0 - u0) / (u1 - u0)), 1.0)
                        THEN LEAST(GREATEST((0.0 - u0) / (u1 - u0),
                                            (1.0 - u0) / (u1 - u0)), 1.0) END
            END
          WHEN crs <> 0.0 THEN
            CASE WHEN a0 / (a0 - a1) >= 0.0 AND a0 / (a0 - a1) <= 1.0
                  AND (CASE WHEN ABS({_LINE_BX} - {_LINE_AX})
                              >= ABS({_LINE_BY} - {_LINE_AY})
                            THEN CASE WHEN {_LINE_BX} - {_LINE_AX} <> 0.0
                                      THEN ((x0 + (x1 - x0) * (a0 / (a0 - a1)))
                                            - {_LINE_AX}) / ({_LINE_BX} - {_LINE_AX})
                                      ELSE 0.0 END
                            ELSE CASE WHEN {_LINE_BY} - {_LINE_AY} <> 0.0
                                      THEN ((y0 + (y1 - y0) * (a0 / (a0 - a1)))
                                            - {_LINE_AY}) / ({_LINE_BY} - {_LINE_AY})
                                      ELSE 0.0 END END) BETWEEN 0.0 AND 1.0
                 THEN a0 / (a0 - a1) END
        END AS s_hi
      FROM segc
    ),
    segsp AS (
      SELECT user_id,
             CAST(FLOOR(t0u + s_lo * dtu) AS BIGINT) AS lo_us,
             CAST(FLOOR(t0u + s_hi * dtu) AS BIGINT) AS hi_us
      FROM iv WHERE s_lo IS NOT NULL
    ),
    -- single-instant islands: instantaneous on-line spans
    singles AS (
      SELECT i.user_id, epoch_us(i.ts) AS lo_us, epoch_us(i.ts) AS hi_us
      FROM isl i
      JOIN (SELECT user_id, island FROM isl
            GROUP BY user_id, island HAVING COUNT(*) = 1) s1
        ON s1.user_id = i.user_id AND s1.island = i.island
      WHERE (i.x - {_LINE_AX}) * ({_LINE_BY} - {_LINE_AY})
              - (i.y - {_LINE_AY}) * ({_LINE_BX} - {_LINE_AX}) = 0.0
        AND i.x >= LEAST({_LINE_AX}, {_LINE_BX})
        AND i.x <= GREATEST({_LINE_AX}, {_LINE_BX})
        AND i.y >= LEAST({_LINE_AY}, {_LINE_BY})
        AND i.y <= GREATEST({_LINE_AY}, {_LINE_BY})
    ),
    allsp AS (
      SELECT * FROM segsp UNION ALL SELECT * FROM singles
    ),
    ordered AS (
      SELECT user_id, lo_us, hi_us,
             MAX(hi_us) OVER (PARTITION BY user_id ORDER BY lo_us, hi_us
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prev_max
      FROM allsp
    ),
    grp AS (
      SELECT user_id, lo_us, hi_us,
             SUM(CASE WHEN prev_max IS NULL OR lo_us > prev_max
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY lo_us, hi_us
                     ROWS UNBOUNDED PRECEDING) AS g
      FROM ordered
    ),
    merged AS (
      SELECT user_id, MIN(lo_us) AS lo_us, MAX(hi_us) AS hi_us
      FROM grp GROUP BY user_id, g
    )
    SELECT user_id AS vehicle_id,
           CAST(COUNT(*) AS INT) AS n_spans,
           CAST(SUM(hi_us - lo_us) AS BIGINT) AS dur_us
    FROM merged
    GROUP BY user_id
    """,
)
def at_line_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """atGeometry over the probe fleet (vehicle_id % 7 == 0): time spent
    ON the probe linestring (y=50, x∈[0,100]) as maximal-interval count
    + total duration — the same restriction the reference's atGeometry
    performs (src/geo/tgeompoint.cpp:265-273).

    Plan shape (the 100 TB path, mirrors _point_hits): the trajectory
    EXPLODES into a flat per-segment relation, the per-segment on-line
    parameter interval is plain whole-stage-codegen arithmetic (the
    identical IEEE formulas PG.on_line_spanset evaluates inside its
    interpreted HOF — that operator remains the general per-row API; at
    relation scale this reformulation ran 12.4 s → ~1 s at sf0.01), and
    the maximal-interval merge is the relational prev-max/group-sum
    window, partition-parallel per vehicle."""
    ax, ay, bx, by = _LINE_AX, _LINE_AY, _LINE_BX, _LINE_BY
    ex, ey = bx - ax, by - ay

    segs = _segments(spark, sf_dir).filter(F.col("vehicle_id") % 7 == 0)

    x0, y0 = F.col("x0"), F.col("y0")
    x1, y1 = F.col("x1"), F.col("y1")
    # identical IEEE double formulas as the oracle's segc/iv CTEs
    crs = (x1 - x0) * F.lit(ey) - (y1 - y0) * F.lit(ex)
    a0 = (x0 - ax) * F.lit(ey) - (y0 - ay) * F.lit(ex)
    a1 = (x1 - ax) * F.lit(ey) - (y1 - ay) * F.lit(ex)

    def proj(vx: Column, vy: Column) -> Column:
        if abs(ex) >= abs(ey):
            return (vx - ax) / ex if ex != 0 else F.lit(0.0)
        return (vy - ay) / ey if ey != 0 else F.lit(0.0)

    u0, u1 = proj(x0, y0), proj(x1, y1)
    du = u1 - u0
    slo_raw = F.when(du != 0, (F.lit(0.0) - u0) / du)
    shi_raw = F.when(du != 0, (F.lit(1.0) - u0) / du)
    slo = F.greatest(F.least(slo_raw, shi_raw), F.lit(0.0))
    shi = F.least(F.greatest(slo_raw, shi_raw), F.lit(1.0))
    col_lo = F.when(
        du == 0, F.when((u0 >= 0) & (u0 <= 1), F.lit(0.0))
    ).otherwise(F.when(slo <= shi, slo))
    col_hi = F.when(
        du == 0, F.when((u0 >= 0) & (u0 <= 1), F.lit(1.0))
    ).otherwise(F.when(slo <= shi, shi))
    s = a0 / (a0 - a1)
    ucross = proj(x0 + (x1 - x0) * s, y0 + (y1 - y0) * s)
    cross_ok = (s >= 0) & (s <= 1) & (ucross >= 0) & (ucross <= 1)
    s_lo = F.when((crs == 0) & (a0 == 0) & (a1 == 0), col_lo).when(
        crs != 0, F.when(cross_ok, s)
    )
    s_hi = F.when((crs == 0) & (a0 == 0) & (a1 == 0), col_hi).when(
        crs != 0, F.when(cross_ok, s)
    )
    t0u = F.unix_micros(F.col("t0"))
    dtu = (F.unix_micros(F.col("t1")) - t0u).cast("double")
    seg_spans = (
        segs.filter(F.col("t1").isNotNull())
        .select(
            "vehicle_id",
            F.floor(t0u.cast("double") + s_lo * dtu).cast("long").alias("lo_us"),
            F.floor(t0u.cast("double") + s_hi * dtu).cast("long").alias("hi_us"),
        )
        .filter(F.col("lo_us").isNotNull())
    )
    on_line = (
        (a0 == 0)
        & (x0 >= min(ax, bx)) & (x0 <= max(ax, bx))
        & (y0 >= min(ay, by)) & (y0 <= max(ay, by))
    )
    singles = (
        segs.filter((F.col("n_inst") == 1) & on_line)
        .select("vehicle_id", t0u.alias("lo_us"), t0u.alias("hi_us"))
    )
    allsp = seg_spans.unionAll(singles)

    wv = Window.partitionBy("vehicle_id").orderBy("lo_us", "hi_us")
    prev_max = F.max("hi_us").over(
        wv.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = allsp.select(
        "vehicle_id", "lo_us", "hi_us",
        F.sum(
            F.when(prev_max.isNull() | (F.col("lo_us") > prev_max), 1).otherwise(0)
        ).over(wv.rowsBetween(Window.unboundedPreceding, 0)).alias("g"),
    )
    merged = grouped.groupBy("vehicle_id", "g").agg(
        F.min("lo_us").alias("lo_us"), F.max("hi_us").alias("hi_us")
    )
    return merged.groupBy("vehicle_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.sum(F.col("hi_us") - F.col("lo_us")).alias("dur_us"),
    )


# ======================================================= atGeometry(POLYGON)
# Time-in-polygon restriction: entry/exit crossing times of the linear
# trajectory against the star-polygon regions — the polygon-interior
# atGeometry the reference's tgeo_at_geom performs over arbitrary
# geometries (src/geo/tgeompoint.cpp:265-273). The oracle transliterates
# the identical IEEE formulas: strict proper-crossing parameter
# s = d3/(d3-d4), midpoint ray-cast per sub-interval, µs FLOOR, and the
# identical closed-span maximal merge.
_SEG_D3 = "(e.bx - e.ax) * (({py}) - e.ay) - (e.by_ - e.ay) * (({px}) - e.ax)"
_SEG_D4 = "(e.bx - e.ax) * (({qy}) - e.ay) - (e.by_ - e.ay) * (({qx}) - e.ax)"


def _sql_cross_param(px, py, qx, qy) -> str:
    d3 = _SEG_D3.format(px=px, py=py)
    d4 = _SEG_D4.format(qx=qx, qy=qy)
    return f"({d3}) / (({d3}) - ({d4}))"


@register(
    "at_polygon_duration",
    f"""
    WITH isl AS (
      SELECT * FROM ({BM.ISLANDS_SQL}) WHERE user_id % 7 = 0
    ),
    {_POLY_EDGES_SQL},
    seg0 AS (
      SELECT user_id, island, ts AS t0, x AS x0, y AS y0,
             lead(ts) OVER w AS t1, lead(x) OVER w AS x1,
             lead(y) OVER w AS y1, lead(island) OVER w AS isl1
      FROM isl
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    seg AS (
      SELECT user_id, t0, x0, y0, x1, y1,
             CAST(epoch_us(t0) AS DOUBLE) AS t0u,
             CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE) AS dtu
      FROM seg0 WHERE t1 IS NOT NULL AND island = isl1
    ),
    xs AS (
      SELECT s.user_id, s.t0, e.region_id,
             {_sql_cross_param('s.x0', 's.y0', 's.x1', 's.y1')} AS sp
      FROM seg s JOIN edges e
        ON {_sql_proper_cross('s.x0', 's.y0', 's.x1', 's.y1')}
    ),
    prs AS (
      SELECT s.user_id, s.t0, r.region_id
      FROM seg s CROSS JOIN (SELECT DISTINCT region_id FROM rv) r
    ),
    bnd AS (
      SELECT user_id, t0, region_id, CAST(0.0 AS DOUBLE) AS sp FROM prs
      UNION ALL
      SELECT user_id, t0, region_id, CAST(1.0 AS DOUBLE) FROM prs
      UNION ALL
      SELECT user_id, t0, region_id, sp FROM xs
    ),
    iv0 AS (
      SELECT user_id, t0, region_id, sp AS s0,
             lead(sp) OVER (PARTITION BY user_id, t0, region_id
                            ORDER BY sp) AS s1
      FROM bnd
    ),
    mid AS (
      SELECT i.user_id, i.t0, i.region_id, i.s0, i.s1,
             s.x0 + (s.x1 - s.x0) * ((i.s0 + i.s1) / 2.0) AS mx,
             s.y0 + (s.y1 - s.y0) * ((i.s0 + i.s1) / 2.0) AS my,
             s.t0u, s.dtu
      FROM iv0 i JOIN seg s ON s.user_id = i.user_id AND s.t0 = i.t0
      WHERE i.s1 IS NOT NULL AND i.s1 > i.s0
    ),
    ins AS (
      SELECT m.user_id, m.region_id,
             CAST(FLOOR(m.t0u + m.s0 * m.dtu) AS BIGINT) AS lo_us,
             CAST(FLOOR(m.t0u + m.s1 * m.dtu) AS BIGINT) AS hi_us
      FROM mid m JOIN edges e ON e.region_id = m.region_id
      GROUP BY m.user_id, m.t0, m.region_id, m.s0, m.s1, m.mx, m.my,
               m.t0u, m.dtu
      HAVING {_sql_raycast('m.mx', 'm.my')}
    ),
    singles AS (
      SELECT i.user_id, e.region_id,
             epoch_us(i.ts) AS lo_us, epoch_us(i.ts) AS hi_us
      FROM isl i
      JOIN (SELECT user_id, island FROM isl
            GROUP BY user_id, island HAVING COUNT(*) = 1) s1
        ON s1.user_id = i.user_id AND s1.island = i.island
      CROSS JOIN edges e
      GROUP BY i.user_id, e.region_id, i.x, i.y, epoch_us(i.ts)
      HAVING {_sql_raycast('i.x', 'i.y')}
    ),
    allsp AS (
      SELECT * FROM ins UNION ALL SELECT * FROM singles
    ),
    ordered AS (
      SELECT user_id, region_id, lo_us, hi_us,
             MAX(hi_us) OVER (PARTITION BY user_id, region_id
                              ORDER BY lo_us, hi_us
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prev_max
      FROM allsp
    ),
    grp AS (
      SELECT user_id, region_id, lo_us, hi_us,
             SUM(CASE WHEN prev_max IS NULL OR lo_us > prev_max
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, region_id
                     ORDER BY lo_us, hi_us ROWS UNBOUNDED PRECEDING) AS g
      FROM ordered
    ),
    merged AS (
      SELECT user_id, region_id, MIN(lo_us) AS lo_us, MAX(hi_us) AS hi_us
      FROM grp GROUP BY user_id, region_id, g
    )
    SELECT user_id AS vehicle_id, region_id,
           CAST(COUNT(*) AS INT) AS n_spans,
           CAST(SUM(hi_us - lo_us) AS BIGINT) AS dur_us
    FROM merged
    GROUP BY user_id, region_id
    """,
)
def at_polygon_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-polygon over the probe fleet (vehicle_id % 7 == 0): per
    (vehicle, star-polygon region), the number of maximal intervals and
    total µs the trajectory spends INSIDE the polygon, with exact
    entry/exit crossing times (duration(atGeometry(trip, polygon)) —
    MEOS tgeo_at_geom, src/geo/tgeompoint.cpp:265-273).

    Plan shape (the 100 TB path): trajectories EXPLODE into a flat
    per-segment relation; the 10-polygon dim broadcasts with a prebuilt
    edge ARRAY + bbox; candidates are bbox-gated (a segment whose bbox
    misses the ring bbox cannot contribute — exact pruning); per
    candidate the crossing-partition + midpoint ray-cast runs as array
    expressions over the 8-edge ring (segment_inside_intervals — tiny
    arrays, no join-back, no extra shuffle); the maximal-interval merge
    is the relational prev-max/group-sum window, partition-parallel per
    (vehicle, region)."""
    from .functions import polygon as PG

    segs = _segments(spark, sf_dir).filter(F.col("vehicle_id") % 7 == 0)

    polys = BM.regions_poly(spark, sf_dir)
    bx0, by0, bx1, by1 = PG.ring_bbox(F.col("ring"))
    pr = polys.select(
        "region_id",
        PG.ring_edges(F.col("ring")).alias("edges"),
        bx0.alias("rx0"), by0.alias("ry0"),
        bx1.alias("rx1"), by1.alias("ry1"),
    )

    x0, y0 = F.col("x0"), F.col("y0")
    x1, y1 = F.col("x1"), F.col("y1")
    bbox_hit = (
        (F.least(x0, x1) <= F.col("rx1"))
        & (F.greatest(x0, x1) >= F.col("rx0"))
        & (F.least(y0, y1) <= F.col("ry1"))
        & (F.greatest(y0, y1) >= F.col("ry0"))
    )
    cand = (
        segs.filter(F.col("t1").isNotNull())
        .crossJoin(F.broadcast(pr))
        .filter(bbox_hit)
    )
    t0u = F.unix_micros(F.col("t0"))
    dtu = (F.unix_micros(F.col("t1")) - t0u).cast("double")
    ivs = PG.segment_inside_intervals(x0, y0, x1, y1, F.col("edges"))
    seg_spans = (
        cand.select(
            "vehicle_id", "region_id",
            t0u.cast("double").alias("t0u"), dtu.alias("dtu"),
            F.explode(ivs).alias("iv"),
        )
        .select(
            "vehicle_id", "region_id",
            F.floor(F.col("t0u") + F.col("iv")["lo"] * F.col("dtu"))
            .cast("long").alias("lo_us"),
            F.floor(F.col("t0u") + F.col("iv")["hi"] * F.col("dtu"))
            .cast("long").alias("hi_us"),
        )
    )
    pt_hit = (
        (x0 >= F.col("rx0")) & (x0 <= F.col("rx1"))
        & (y0 >= F.col("ry0")) & (y0 <= F.col("ry1"))
    )
    singles = (
        segs.filter(F.col("n_inst") == 1)
        .crossJoin(F.broadcast(pr))
        .filter(pt_hit & PG.point_in_edges(x0, y0, F.col("edges")))
        .select(
            "vehicle_id", "region_id",
            t0u.alias("lo_us"), t0u.alias("hi_us"),
        )
    )
    allsp = seg_spans.unionAll(singles)

    wv = Window.partitionBy("vehicle_id", "region_id").orderBy(
        "lo_us", "hi_us"
    )
    prev_max = F.max("hi_us").over(
        wv.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = allsp.select(
        "vehicle_id", "region_id", "lo_us", "hi_us",
        F.sum(
            F.when(prev_max.isNull() | (F.col("lo_us") > prev_max), 1).otherwise(0)
        ).over(wv.rowsBetween(Window.unboundedPreceding, 0)).alias("g"),
    )
    merged = grouped.groupBy("vehicle_id", "region_id", "g").agg(
        F.min("lo_us").alias("lo_us"), F.max("hi_us").alias("hi_us")
    )
    return merged.groupBy("vehicle_id", "region_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.sum(F.col("hi_us") - F.col("lo_us")).alias("dur_us"),
    )


# ======================================================== hausdorff
@register(
    "bm_hausdorff",
    f"""
    WITH pts AS ({BM.PTS_SQL}),
    l1 AS ({BM.LICENCES1_SQL}),
    l2 AS ({BM.LICENCES2_SQL}),
    p1 AS (
      SELECT e.user_id, e.event_id, e.x, e.y
      FROM pts e JOIN l1 ON l1.vehicle_id = e.user_id
    ),
    p2 AS (
      SELECT e.user_id, e.event_id, e.x, e.y
      FROM pts e JOIN l2 ON l2.vehicle_id = e.user_id
    ),
    d12 AS (
      SELECT a.user_id AS v1, b.user_id AS v2, a.event_id AS pid,
             MIN((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y)) AS m
      FROM p1 a JOIN p2 b ON a.user_id <> b.user_id
      GROUP BY 1, 2, 3
    ),
    h12 AS (SELECT v1, v2, MAX(m) AS h FROM d12 GROUP BY 1, 2),
    d21 AS (
      SELECT a.user_id AS v1, b.user_id AS v2, b.event_id AS pid,
             MIN((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y)) AS m
      FROM p1 a JOIN p2 b ON a.user_id <> b.user_id
      GROUP BY 1, 2, 3
    ),
    h21 AS (SELECT v1, v2, MAX(m) AS h FROM d21 GROUP BY 1, 2)
    SELECT la.licence AS licence1, lb.licence AS licence2,
           ROUND(SQRT(GREATEST(h12.h, h21.h)), 3) AS hausdorff
    FROM h12 JOIN h21 ON h21.v1 = h12.v1 AND h21.v2 = h12.v2
    JOIN l1 la ON la.vehicle_id = h12.v1
    JOIN l2 lb ON lb.vehicle_id = h12.v2
    ORDER BY licence1, licence2
    """,
)
def bm_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Hausdorff distance between every licences1 × licences2
    trajectory pair: max over either side's pings of the min
    point-to-point distance — the classic trajectory-similarity measure
    the reference's distance family (§2.6) stops short of. Purely
    relational: pings semi-join the 10-vehicle broadcast probe dims,
    one equi-join on the pair, per-ping MIN then per-pair MAX (both
    directions), identical FP term order to the oracle. Work is
    bounded by the probe dims — never an all-pairs over the fleet."""
    pts = BM.points(spark, sf_dir)
    l1 = BM.licences1(spark, sf_dir)
    l2 = BM.licences2(spark, sf_dir)
    p1 = pts.join(F.broadcast(l1), pts["user_id"] == l1["vehicle_id"]).select(
        "user_id", "event_id", "x", "y", "licence"
    )
    p2 = pts.join(F.broadcast(l2), pts["user_id"] == l2["vehicle_id"]).select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("e2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
        F.col("licence").alias("licence2"),
    )
    both = p1.join(p2, F.col("user_id") != F.col("u2"))
    d2 = (F.col("x") - F.col("x2")) * (F.col("x") - F.col("x2")) + (
        F.col("y") - F.col("y2")
    ) * (F.col("y") - F.col("y2"))
    d12 = (
        both.groupBy("user_id", "u2", "licence", "licence2", "event_id")
        .agg(F.min(d2).alias("m"))
        .groupBy("user_id", "u2", "licence", "licence2")
        .agg(F.max("m").alias("h12"))
    )
    d21 = (
        both.groupBy("user_id", "u2", "e2")
        .agg(F.min(d2).alias("m"))
        .groupBy("user_id", "u2")
        .agg(F.max("m").alias("h21"))
    )
    return (
        d12.join(d21, ["user_id", "u2"])
        .select(
            F.col("licence").alias("licence1"),
            "licence2",
            F.round(
                F.sqrt(F.greatest(F.col("h12"), F.col("h21"))), 3
            ).alias("hausdorff"),
        )
        .orderBy("licence1", "licence2")
    )
