"""TGEOMPOINT — temporal points (trajectories).

Reference: src/geo/tgeompoint.cpp (+ tgeompoint_functions.cpp): point
instants, sequence assembly, trajectory/length, valueAtTimestamp (linear
interpolation along segments), stbox, spatial predicates.

Base value is STRUCT<x: DOUBLE, y: DOUBLE> (types.POINT_TYPE) — not WKB —
so all hot-path math (segment length, interpolation, bbox) stays in JVM
expressions. WKT/WKB rendering is the boundary for interop.

Pairwise trajectory ops (eDwithin/tDwithin/aDisjoint over two temporals)
live in operators/tpoint_pairs.py (Arrow-vectorized pandas UDF — genuine
geometry math, the designated slow path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .span import _c
from . import temporal as TT


def point(x, y) -> Column:
    return F.struct(_c(x).cast("double").alias("x"), _c(y).cast("double").alias("y"))


def tpoint_inst(x, y, t) -> Column:
    """TGEOMPOINT(point, ts) — src/geo/tgeompoint.cpp:93-101."""
    return TT.tinstant(point(x, y), t)


def tpoint_seq(instants, interp="linear", lower_inc=True, upper_inc=True) -> Column:
    """tgeompointSeq(list) — src/geo/tgeompoint.cpp:103-111. `instants`
    is ARRAY<STRUCT<t, v: STRUCT<x, y>>> (e.g. collect_list of
    struct(ts, struct(x, y)))."""
    return TT.tsequence(instants, interp=interp, lower_inc=lower_inc, upper_inc=upper_inc)


def _seg_len(p, q) -> Column:
    dx = q["v"]["x"] - p["v"]["x"]
    dy = q["v"]["y"] - p["v"]["y"]
    return F.sqrt(dx * dx + dy * dy)


def length(t) -> Column:
    """length(TGEOMPOINT) — Σ segment euclidean lengths
    (src/geo/tgeompoint.cpp:234-242, MEOS tpoint_length). Discrete/instant
    temporals have zero length."""
    tc = _c(t)
    per_seq = F.transform(
        tc["seqs"],
        lambda s: F.aggregate(
            F.zip_with(
                F.slice(s["instants"], 1, F.size(s["instants"]) - 1),
                F.slice(s["instants"], 2, F.size(s["instants"]) - 1),
                _seg_len,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    total = F.aggregate(per_seq, F.lit(0.0), lambda acc, x: acc + x)
    return F.when(
        (tc["interp"] == 1) | (tc["subtype"] == 1), F.lit(0.0)
    ).otherwise(total)


def _fmt_coord(v: Column) -> Column:
    # render like WKT: integral values without trailing .0
    return F.when(
        v == F.floor(v), v.cast("long").cast("string")
    ).otherwise(v.cast("string"))


def _pt_txt(p) -> Column:
    return F.concat(_fmt_coord(p["x"]), F.lit(" "), _fmt_coord(p["y"]))


def trajectory_wkt(t) -> Column:
    """trajectory(TGEOMPOINT) — src/geo/tgeompoint.cpp:244-253 (MEOS
    tpoint_trajectory): POINT for a single position, LINESTRING for one
    moving sequence, MULTILINESTRING for several, MULTIPOINT for
    discrete temporals, and GEOMETRYCOLLECTION (points first, then
    lines — MEOS geo_collect order) when a sequence set mixes moving
    sequences with stationary/single-instant ones (golden
    test/sql/tgeompoint.test:173-175)."""
    tc = _c(t)
    inst = TT.instants(tc)
    discrete = (tc["interp"] == 1) | (tc["subtype"] == 1)

    def seq_pts(s: Column) -> Column:
        return F.transform(s["instants"], lambda i: _pt_txt(i["v"]))

    def is_stationary(s: Column) -> Column:
        # every position equals the first -> trajectory degenerates to a
        # single point
        return F.size(F.array_distinct(seq_pts(s))) == 1

    # distinct stationary-sequence points (or all instants for discrete)
    pts_discrete = F.array_distinct(F.transform(inst, lambda i: _pt_txt(i["v"])))
    pts_seq = F.array_distinct(
        F.transform(
            F.filter(tc["seqs"], is_stationary),
            lambda s: _pt_txt(s["instants"][0]["v"]),
        )
    )
    pts = F.when(discrete, pts_discrete).otherwise(pts_seq)

    lines = F.when(discrete, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.filter(tc["seqs"], lambda s: ~is_stationary(s)),
            lambda s: F.concat(
                F.lit("("), F.array_join(seq_pts(s), ", "), F.lit(")")
            ),
        )
    )

    n_pts, n_lines = F.size(pts), F.size(lines)
    single_pt = F.concat(F.lit("POINT("), pts[0], F.lit(")"))
    multi_pt = F.concat(
        F.lit("MULTIPOINT("), F.array_join(pts, ", "), F.lit(")")
    )
    one_line = F.concat(F.lit("LINESTRING"), lines[0])
    multi_line = F.concat(
        F.lit("MULTILINESTRING("), F.array_join(lines, ", "), F.lit(")")
    )
    collection = F.concat(
        F.lit("GEOMETRYCOLLECTION("),
        F.array_join(
            F.concat(
                F.transform(pts, lambda p: F.concat(F.lit("POINT("), p, F.lit(")"))),
                F.transform(lines, lambda l: F.concat(F.lit("LINESTRING"), l)),
            ),
            ", ",
        ),
        F.lit(")"),
    )
    return (
        F.when((n_lines == 0) & (n_pts == 1), single_pt)
        .when(n_lines == 0, multi_pt)
        .when((n_pts == 0) & (n_lines == 1), one_line)
        .when(n_pts == 0, multi_line)
        .otherwise(collection)
    )


def value_at_timestamp(t, ts) -> Column:
    """valueAtTimestamp(TGEOMPOINT, ts) → point struct, linear
    interpolation along the enclosing segment
    (src/geo/tgeompoint.cpp:220-228, impl tgeompoint_functions.cpp:407-458).
    NULL when t is not defined at ts."""
    tc, ts = _c(t), _c(ts)
    disc = tc["interp"] == 1

    def covers(s: Column) -> Column:
        first_t = s["instants"][0]["t"]
        last_t = F.try_element_at(s["instants"], F.lit(-1))["t"]
        lo_ok = F.when(s["lower_inc"] | disc, ts >= first_t).otherwise(ts > first_t)
        hi_ok = F.when(s["upper_inc"] | disc, ts <= last_t).otherwise(ts < last_t)
        return lo_ok & hi_ok

    seq = F.try_element_at(F.filter(tc["seqs"], covers), F.lit(1))
    inst = seq["instants"]
    before = F.try_element_at(F.filter(inst, lambda i: i["t"] <= ts), F.lit(-1))
    after = F.try_element_at(F.filter(inst, lambda i: i["t"] >= ts), F.lit(1))
    frac = (F.unix_micros(ts) - F.unix_micros(before["t"])) / (
        F.unix_micros(after["t"]) - F.unix_micros(before["t"])
    )
    interp_pt = F.when(before["t"] == after["t"], before["v"]).otherwise(
        point(
            before["v"]["x"] + (after["v"]["x"] - before["v"]["x"]) * frac,
            before["v"]["y"] + (after["v"]["y"] - before["v"]["y"]) * frac,
        )
    )
    linearish = tc["interp"] == 3
    exact = F.try_element_at(
        F.filter(TT.instants(tc), lambda i: i["t"] == ts), F.lit(1)
    )["v"]
    return F.when(seq.isNull(), F.lit(None)).otherwise(
        F.when(disc, exact).otherwise(
            F.when(linearish, interp_pt).otherwise(before["v"])
        )
    )


def is_defined_at(t, ts) -> Column:
    """True iff some sequence of `t` covers `ts` (bound-flag aware).
    For continuous (step/linear) temporals this is EXACTLY the non-NULL
    condition of value_at_timestamp; discrete temporals additionally
    need an exact instant match. O(#sequences) — use as a cheap join
    predicate instead of an IS NOT NULL post-filter on the interpolated
    value: a filter above the projection gets predicate-pushed through
    it and re-evaluates the whole interpolation subtree per row."""
    tc, ts = _c(t), _c(ts)
    disc = tc["interp"] == 1

    def covers(s: Column) -> Column:
        first_t = s["instants"][0]["t"]
        last_t = F.try_element_at(s["instants"], F.lit(-1))["t"]
        lo_ok = F.when(s["lower_inc"] | disc, ts >= first_t).otherwise(ts > first_t)
        hi_ok = F.when(s["upper_inc"] | disc, ts <= last_t).otherwise(ts < last_t)
        return lo_ok & hi_ok

    return F.exists(tc["seqs"], covers)


def at_values_point(t, x, y) -> Column:
    """atValues(TGEOMPOINT, point) — restrict to times AT a given point
    (src/geo/tgeompoint.cpp:190-198): instants whose position equals
    (x, y) exactly (step/discrete sampling semantics)."""
    tc = _c(t)
    kept = F.filter(
        TT.instants(tc),
        lambda i: (i["v"]["x"] == _c(x)) & (i["v"]["y"] == _c(y)),
    )
    n = F.size(kept)
    return F.when(
        n > 0,
        TT._temporal_struct(
            F.when(n == 1, F.lit(1)).otherwise(F.lit(2)),
            F.lit(1),
            F.array(TT._seq_struct(F.lit(True), F.lit(True), kept)),
        ),
    )


def _inside_box(i: Column, b: Column) -> Column:
    """Instant i inside STBOX b (borders inclusive — MEOS border_inc)."""
    sp_ok = F.when(
        b["hasx"],
        (i["v"]["x"] >= b["xmin"]) & (i["v"]["x"] <= b["xmax"])
        & (i["v"]["y"] >= b["ymin"]) & (i["v"]["y"] <= b["ymax"]),
    ).otherwise(F.lit(True))
    t_ok = F.when(
        b["hast"], (i["t"] >= b["tmin"]) & (i["t"] <= b["tmax"])
    ).otherwise(F.lit(True))
    return sp_ok & t_ok


def clip_spanset(t, box) -> Column:
    """tstzspanset during which the temporal point is inside the STBOX —
    EXACT semantics: linear segments are clipped against the box
    boundary (Liang–Barsky in the time parameter), so a trajectory that
    crosses a region corner between samples contributes the interpolated
    crossing interval, not just observed instants.

    Per linear segment p→q over [t0, t1]: for each axis the inside
    window in u ∈ [0, 1] is [(lo−v0)/dv, (hi−v0)/dv] (sorted); the
    segment is inside on [max(0, ux_lo, uy_lo), min(1, ux_hi, uy_hi)].
    Crossing times quantize to µs with FLOOR (the oracle uses the same
    double-precision formula). Step sequences contribute constant-value
    spans; discrete/instant subtypes contribute instantaneous spans.
    The per-segment spans are normalized+merged by spanset().

    Reference: atGeometry/atStbox, src/geo/tgeompoint.cpp:265-273 (impl
    tgeompoint_functions.cpp:559-608, MEOS tgeo_at_geom /
    tpoint_at_stbox with border_inc=true).
    """
    from . import span as S

    tc, b = _c(t), _c(box)

    def ts_span(lo_us, hi_us):
        lo = F.timestamp_micros(lo_us)
        hi = F.timestamp_micros(hi_us)
        lo2 = F.when(b["hast"], F.greatest(lo, b["tmin"])).otherwise(lo)
        hi2 = F.when(b["hast"], F.least(hi, b["tmax"])).otherwise(hi)
        return F.when(
            lo2 <= hi2, S.span(lo2, hi2, F.lit(True), F.lit(True))
        )

    def clip_seg(p: Column, q: Column) -> Column:
        t0u = F.unix_micros(p["t"])
        t1u = F.unix_micros(q["t"])
        dtu = (t1u - t0u).cast("double")

        def axis(v0: Column, v1: Column, lo: Column, hi: Column):
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

        ux_lo, ux_hi = axis(p["v"]["x"], q["v"]["x"], b["xmin"], b["xmax"])
        uy_lo, uy_hi = axis(p["v"]["y"], q["v"]["y"], b["ymin"], b["ymax"])
        u0 = F.when(b["hasx"], F.greatest(F.lit(0.0), ux_lo, uy_lo)).otherwise(
            F.lit(0.0)
        )
        u1 = F.when(b["hasx"], F.least(F.lit(1.0), ux_hi, uy_hi)).otherwise(
            F.lit(1.0)
        )
        enter_us = F.floor(t0u.cast("double") + u0 * dtu).cast("long")
        exit_us = F.floor(t0u.cast("double") + u1 * dtu).cast("long")
        return F.when(u0 <= u1, ts_span(enter_us, exit_us))

    def inst_span(i: Column) -> Column:
        us = F.unix_micros(i["t"])
        return F.when(_inside_box(i, b), ts_span(us, us))

    def step_span(p: Column, q: Column) -> Column:
        # constant value on [t0, t1): inside iff p inside the space box;
        # time clip via ts_span
        sp_ok = F.when(
            b["hasx"],
            (p["v"]["x"] >= b["xmin"]) & (p["v"]["x"] <= b["xmax"])
            & (p["v"]["y"] >= b["ymin"]) & (p["v"]["y"] <= b["ymax"]),
        ).otherwise(F.lit(True))
        raw = ts_span(F.unix_micros(p["t"]), F.unix_micros(q["t"]))
        # open upper bound: the step value changes at q
        opened = F.when(
            raw.isNotNull() & (raw["upper"] < q["t"]), raw
        ).otherwise(
            F.when(
                raw.isNotNull(),
                S.span(raw["lower"], raw["upper"], raw["lower_inc"], F.lit(False)),
            )
        )
        return F.when(sp_ok, opened)

    def seq_spans(seq: Column) -> Column:
        inst = seq["instants"]
        n = F.size(inst)
        single = F.array(inst_span(inst[0]))
        lin = F.zip_with(
            F.slice(inst, 1, n - 1), F.slice(inst, 2, n - 1), clip_seg
        )
        stp = F.concat(
            F.zip_with(F.slice(inst, 1, n - 1), F.slice(inst, 2, n - 1), step_span),
            F.when(
                seq["upper_inc"],
                F.array(inst_span(F.try_element_at(inst, F.lit(-1)))),
            ).otherwise(F.array().cast("array<struct<lower:timestamp,upper:timestamp,lower_inc:boolean,upper_inc:boolean>>")),
        )
        body = (
            F.when(tc["interp"] == 3, lin)
            .when(tc["interp"] == 2, stp)
            .otherwise(F.transform(inst, inst_span))
        )
        res = F.when(n == 1, single).otherwise(body)
        # honor exclusive sequence bounds: a span that starts/ends exactly
        # at an open sequence boundary must not include that instant
        # (MEOS tpoint_at_stbox keeps the restriction inside the
        # sequence's own bound flags)
        first_t = inst[0]["t"]
        last_t = F.try_element_at(inst, F.lit(-1))["t"]
        span_t = "struct<lower:timestamp,upper:timestamp,lower_inc:boolean,upper_inc:boolean>"

        def fix(sp: Column) -> Column:
            lo_inc = sp["lower_inc"] & ~(
                (sp["lower"] == first_t) & ~seq["lower_inc"]
            )
            hi_inc = sp["upper_inc"] & ~(
                (sp["upper"] == last_t) & ~seq["upper_inc"]
            )
            empty = (sp["lower"] == sp["upper"]) & ~(lo_inc & hi_inc)
            return F.when(
                sp.isNull() | empty, F.lit(None).cast(span_t)
            ).otherwise(S.span(sp["lower"], sp["upper"], lo_inc, hi_inc))

        return F.transform(res, fix)

    all_spans = F.flatten(F.transform(tc["seqs"], seq_spans))
    return S.spanset(all_spans)


def clip_duration_us(t, box) -> Column:
    """Total µs the temporal point spends inside the STBOX, with EXACT
    boundary-crossing interpolation — the O(n) single-pass form of
    `duration(atStbox(t, box))` for linear sequences.

    Same Liang–Barsky per-segment clip as clip_spanset (identical
    double-precision formula, µs FLOOR quantization) but sums clipped
    segment lengths directly instead of materializing the spanset and
    rebuilding the restricted temporal: segments partition time, so
    duration is additive per segment and no merge/normalize is needed.
    One zip_with + one aggregate — stays linear in instants where the
    restrict-then-measure form is O(spans × instants) interpreted HOF.

    Reference: src/geo/tgeompoint.cpp:265-273 (tpoint_at_stbox) +
    temporal duration; semantics equal clip_spanset duration.
    """
    tc, b = _c(t), _c(box)

    def seg_us(p: Column, q: Column) -> Column:
        t0u = F.unix_micros(p["t"])
        t1u = F.unix_micros(q["t"])
        dtu = (t1u - t0u).cast("double")

        def axis(v0: Column, v1: Column, lo: Column, hi: Column):
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

        ux_lo, ux_hi = axis(p["v"]["x"], q["v"]["x"], b["xmin"], b["xmax"])
        uy_lo, uy_hi = axis(p["v"]["y"], q["v"]["y"], b["ymin"], b["ymax"])
        u0 = F.when(b["hasx"], F.greatest(F.lit(0.0), ux_lo, uy_lo)).otherwise(
            F.lit(0.0)
        )
        u1 = F.when(b["hasx"], F.least(F.lit(1.0), ux_hi, uy_hi)).otherwise(
            F.lit(1.0)
        )
        enter = F.floor(t0u.cast("double") + u0 * dtu).cast("long")
        exit_ = F.floor(t0u.cast("double") + u1 * dtu).cast("long")
        # time-box clamp (post-floor, matching clip_spanset's ts_span)
        enter2 = F.when(b["hast"], F.greatest(enter, F.unix_micros(b["tmin"]))).otherwise(enter)
        exit2 = F.when(b["hast"], F.least(exit_, F.unix_micros(b["tmax"]))).otherwise(exit_)
        return F.when(
            (u0 <= u1) & (enter2 <= exit2), exit2 - enter2
        ).otherwise(F.lit(0).cast("long"))

    def seq_us(seq: Column) -> Column:
        inst = seq["instants"]
        n = F.size(inst)
        per_seg = F.zip_with(
            F.slice(inst, 1, n - 1), F.slice(inst, 2, n - 1), seg_us
        )
        return F.aggregate(
            per_seg, F.lit(0).cast("long"), lambda acc, v: acc + v
        )

    return F.aggregate(
        F.transform(tc["seqs"], seq_us),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def at_stbox(t, box) -> Column:
    """atStbox/atGeometry(box region) with EXACT boundary-crossing
    interpolation: restrict the temporal point to the spanset where it
    is inside the box (clip_spanset), reusing atTime's boundary
    interpolation to materialize entry/exit instants. NULL when the
    restriction is empty.

    A segment that clips a region corner between samples is kept (with
    interpolated crossing instants), so clipped durations are unbiased.
    Reference: src/geo/tgeompoint.cpp:265-273."""
    tc = _c(t)
    ss = clip_spanset(tc, box)
    return F.when(
        F.size(ss) > 0, TT.at_time_spanset(tc, ss, continuous=True, point=True)
    )


def intersects_stbox(t, box) -> Column:
    """EXISTS form of `at_stbox(t, box) IS NOT NULL` with EXACT
    boundary-crossing interpolation — the predicate to use when only
    membership matters ("did the vehicle pass through region×period"):
    one arithmetic pass over segments, no spanset materialization, no
    merge. Semantics identical to clip_spanset non-emptiness for
    linear/instant temporals (a zero-duration boundary touch counts,
    as in MEOS tpoint_at_stbox): per linear segment the Liang–Barsky
    space window [u0, u1] must be non-empty and its µs-floored time
    image must meet [tmin, tmax].

    Reference: src/geo/tgeompoint.cpp:265-273 (tpoint_at_stbox)."""
    tc, b = _c(t), _c(box)
    tmin_us, tmax_us = F.unix_micros(b["tmin"]), F.unix_micros(b["tmax"])

    def t_ok(lo_us, hi_us):
        lo2 = F.when(b["hast"], F.greatest(lo_us, tmin_us)).otherwise(lo_us)
        hi2 = F.when(b["hast"], F.least(hi_us, tmax_us)).otherwise(hi_us)
        return lo2 <= hi2

    def seg_hit(p: Column, q: Column) -> Column:
        t0u = F.unix_micros(p["t"])
        t1u = F.unix_micros(q["t"])
        dtu = (t1u - t0u).cast("double")

        def axis(v0: Column, v1: Column, lo: Column, hi: Column):
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

        ux_lo, ux_hi = axis(p["v"]["x"], q["v"]["x"], b["xmin"], b["xmax"])
        uy_lo, uy_hi = axis(p["v"]["y"], q["v"]["y"], b["ymin"], b["ymax"])
        u0 = F.when(b["hasx"], F.greatest(F.lit(0.0), ux_lo, uy_lo)).otherwise(
            F.lit(0.0)
        )
        u1 = F.when(b["hasx"], F.least(F.lit(1.0), ux_hi, uy_hi)).otherwise(
            F.lit(1.0)
        )
        enter_us = F.floor(t0u.cast("double") + u0 * dtu).cast("long")
        exit_us = F.floor(t0u.cast("double") + u1 * dtu).cast("long")
        return (u0 <= u1) & t_ok(enter_us, exit_us)

    def seq_hit(s: Column) -> Column:
        inst = s["instants"]
        n = F.size(inst)
        single = _inside_box(inst[0], b)
        disc = (tc["interp"] == 1) | (tc["subtype"] == 1)
        any_seg = F.exists(
            F.zip_with(
                F.slice(inst, 1, n - 1), F.slice(inst, 2, n - 1), seg_hit
            ),
            lambda h: h,
        )
        any_inst = F.exists(inst, lambda i: _inside_box(i, b))
        return F.when(n == 1, single).otherwise(
            F.when(disc, any_inst).otherwise(any_seg)
        )

    return F.exists(tc["seqs"], seq_hit)


def speed(t) -> Column:
    """Average speed (length / duration); 0 for degenerate temporals."""
    tc = _c(t)
    dur = TT.duration_secs(tc)
    return F.when(dur > 0, length(tc) / dur).otherwise(F.lit(0.0))


# ------------------------------------------------------------ projections
def web_mercator(lon, lat) -> Column:
    """ST_Transform('EPSG:4326' → 'EPSG:3857') — the only projection the
    reference workload uses (BerlinMOD 07_trips.sql via duckdb-spatial).
    Closed-form spherical web-mercator forward; no PROJ needed."""
    import math

    R = 6378137.0
    x = _c(lon) * F.lit(math.pi * R / 180.0)
    y = F.log(F.tan((F.lit(90.0) + _c(lat)) * F.lit(math.pi / 360.0))) * F.lit(R)
    return F.struct(x.alias("x"), y.alias("y"))
