"""Pairwise trajectory operators: eDwithin / aDisjoint / tDwithin /
pairwise distance over TWO temporal points.

Reference: src/geo/tgeompoint.cpp:279-311 (aDisjoint :279-287, eDwithin
:289-297, tDwithin :303-311; impls tgeompoint_functions.cpp:610-741).
MEOS synchronizes the two temporals and solves the quadratic
‖p1(t) − p2(t)‖² ≤ d² per overlapping segment pair.

This is genuine geometry math over two trajectories — the designated
pandas-UDF slow path (SURVEY.md §7 phase 4). Every pair op is one pandas
UDF built by `_pair_udf` over flat ARRAY<DOUBLE> columns (`flat_cols`):
Arrow converts those to numpy ~100× faster than nested temporal structs,
which arrive as Python object trees. Each UDF is Arrow-batched and
numpy-vectorized per row pair; the surrounding join/filter stays
relational, and callers should pre-filter pairs with the cheap
expression-level stbox_overlaps/expand_space predicate so the UDF only
sees plausible pairs (the same bbox pre-filter the reference's R-tree
would provide).
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _gap_bounds(side) -> tuple[np.ndarray, np.ndarray]:
    """(lo_arr, hi_arr) second windows where the temporal is undefined,
    derived from per-sequence lengths; empty when single-sequence.
    Sorted and pairwise disjoint (sequences are ordered and
    non-overlapping, so their inter-sequence gaps are too)."""
    ts = side[0]
    lens = side[3] if len(side) > 3 and side[3] is not None else None
    if lens is None or len(lens) <= 1:
        z = np.empty(0)
        return z, z
    offs = np.cumsum(lens)[:-1]
    lo, hi = ts[offs - 1], ts[offs]
    keep = hi > lo
    return lo[keep], hi[keep]


def _inside_any(vals: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Boolean mask: vals strictly inside any [lo_i, hi_i) gap window.
    `lo` sorted + disjoint ⇒ one searchsorted instead of a per-gap
    Python loop (the loop dominated the pairwise kernels on gap-split
    trips: ~40 sequences → ~80 masked vector ops per sync call)."""
    if lo.size == 0 or vals.size == 0:
        return np.zeros(vals.size, dtype=bool)
    idx = np.searchsorted(lo, vals, side="right") - 1
    ok = idx >= 0
    out = np.zeros(vals.size, dtype=bool)
    iv = vals[ok]
    ii = idx[ok]
    out[ok] = (iv > lo[ii]) & (iv < hi[ii])
    return out


def _sync_segments(a, b):
    """Synchronize two linear trajectories on the union of their
    timestamps within the overlapping window. Returns (ts, pax, pay,
    pbx, pby, valid_knot, valid_seg) — validity masks are False where
    either side is undefined (inside an inter-sequence gap), so gap
    intervals contribute neither knot distances nor segment quadratics.
    Gap boundaries are knots of their own side, so every union segment
    lies entirely in or out of each gap; a midpoint test classifies it.
    Returns None when the windows don't overlap or no co-defined instant
    exists."""
    ta, xa, ya = a[0], a[1], a[2]
    tb, xb, yb = b[0], b[1], b[2]
    lo = max(ta[0], tb[0])
    hi = min(ta[-1], tb[-1])
    if lo > hi:
        return None
    ts = np.union1d(ta, tb)
    ts = ts[(ts >= lo) & (ts <= hi)]
    if ts.size == 0:
        return None
    ga_lo, ga_hi = _gap_bounds(a)
    gb_lo, gb_hi = _gap_bounds(b)
    valid_knot = ~(_inside_any(ts, ga_lo, ga_hi) | _inside_any(ts, gb_lo, gb_hi))
    if ts.size >= 2:
        mid = (ts[:-1] + ts[1:]) * 0.5
        valid_seg = ~(
            _inside_any(mid, ga_lo, ga_hi) | _inside_any(mid, gb_lo, gb_hi)
        )
    else:
        valid_seg = np.empty(0, dtype=bool)
    if not valid_knot.any():
        return None
    pax = np.interp(ts, ta, xa)
    pay = np.interp(ts, ta, ya)
    pbx = np.interp(ts, tb, xb)
    pby = np.interp(ts, tb, yb)
    return ts, pax, pay, pbx, pby, valid_knot, valid_seg


def _min_dist_sq_profile(sync):
    """Minimum of ‖pa(t)−pb(t)‖² over the synced window (exact: per
    segment the relative motion is linear, so the squared distance is a
    quadratic in t — evaluate its vertex when interior). Knots/segments
    masked invalid (either side undefined) are excluded."""
    ts, pax, pay, pbx, pby, vk, vs = sync
    dx = pax - pbx
    dy = pay - pby
    d2_at_knots = dx * dx + dy * dy
    best = float(d2_at_knots[vk].min())
    if ts.size >= 2 and vs.any():
        # per segment: d(t) = (dx0 + vx·u, dy0 + vy·u), u ∈ [0,1]
        dx0, dy0 = dx[:-1][vs], dy[:-1][vs]
        vx = dx[1:][vs] - dx0
        vy = dy[1:][vs] - dy0
        denom = vx * vx + vy * vy
        with np.errstate(divide="ignore", invalid="ignore"):
            u = np.where(denom > 0, -(dx0 * vx + dy0 * vy) / denom, 0.0)
        u = np.clip(u, 0.0, 1.0)
        ix = dx0 + vx * u
        iy = dy0 + vy * u
        best = min(best, float((ix * ix + iy * iy).min()))
    return best


def _dwithin_intervals(sync, dist: float):
    """Exact time intervals (as [lo, hi] second pairs) where
    ‖pa(t)−pb(t)‖ ≤ dist: per synced segment the squared distance is a
    quadratic in u ∈ [0,1]; intersect its ≤ d² root interval with the
    segment and merge adjacent results (MEOS tdwithin_tgeo_tgeo
    semantics, reference impl tgeompoint_functions.cpp:693-741).
    Segments inside an inter-sequence gap (valid_seg False) are skipped;
    merging never bridges a gap because the gap segment between two
    within-d spans is absent from the output."""
    ts, pax, pay, pbx, pby, vk, vs = sync
    d2 = dist * dist
    out: list[list[float]] = []

    def push(lo: float, hi: float):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])

    dx = pax - pbx
    dy = pay - pby
    if ts.size == 1:
        if vk[0] and dx[0] * dx[0] + dy[0] * dy[0] <= d2:
            push(ts[0], ts[0])
        return out
    for i in range(ts.size - 1):
        if not vs[i]:
            # isolated co-defined knot bordered by gaps on both sides
            if vk[i] and (i == 0 or not vs[i - 1]) and dx[i] ** 2 + dy[i] ** 2 <= d2:
                push(ts[i], ts[i])
            continue
        t0, t1 = ts[i], ts[i + 1]
        dx0, dy0 = dx[i], dy[i]
        vx, vy = dx[i + 1] - dx[i], dy[i + 1] - dy[i]
        a = vx * vx + vy * vy
        b = 2 * (dx0 * vx + dy0 * vy)
        c = dx0 * dx0 + dy0 * dy0 - d2
        if a == 0.0:
            if c <= 0:
                push(t0, t1)
            continue
        disc = b * b - 4 * a * c
        if disc < 0:
            continue
        sq = np.sqrt(disc)
        u1 = max((-b - sq) / (2 * a), 0.0)
        u2 = min((-b + sq) / (2 * a), 1.0)
        if u1 <= u2:
            push(t0 + (t1 - t0) * u1, t0 + (t1 - t0) * u2)
    # last knot isolated (final segment invalid): evaluate it alone
    if ts.size >= 2 and not vs[-1] and vk[-1] and dx[-1] ** 2 + dy[-1] ** 2 <= d2:
        push(ts[-1], ts[-1])
    return out


def _seg_mask(side, n: int) -> np.ndarray | None:
    """Boolean mask over the n-1 consecutive-point segments of a
    flattened trajectory: False for the fictitious segments that would
    connect the end of one sequence to the start of the next (a seqset's
    trajectory is a MULTILINESTRING — those edges don't exist)."""
    lens = side[3] if len(side) > 3 and side[3] is not None else None
    if lens is None or len(lens) <= 1:
        return None
    mask = np.ones(n - 1, dtype=bool)
    mask[np.cumsum(lens)[:-1] - 1] = False
    return mask


def _min_polyline_dist(a, b) -> float:
    """Min distance between two STATIC polylines (trajectory geometries,
    time ignored) — ST_Distance(trajectory(t1), trajectory(t2)) semantics
    (BerlinMOD q5). Vectorized segment-pair point-to-segment distance.
    Multi-sequence trips are treated as MULTILINESTRINGs: segments never
    span an inter-sequence gap."""
    xa, ya = a[1], a[2]
    xb, yb = b[1], b[2]
    pa = np.column_stack([xa, ya])
    pb = np.column_stack([xb, yb])
    ma = _seg_mask(a, len(pa))
    mb = _seg_mask(b, len(pb))

    def seg_pt_min(p0, p1, q):
        """min over segments (p0→p1) × points q of point-segment dist²."""
        d = p1 - p0  # (m, 2)
        dd = (d * d).sum(1)  # (m,)
        diff = q[:, None, :] - p0[None, :, :]  # (n, m, 2)
        tt = (diff * d[None, :, :]).sum(2)  # (n, m)
        with np.errstate(divide="ignore", invalid="ignore"):
            u = np.where(dd[None, :] > 0, tt / dd[None, :], 0.0)
        u = np.clip(u, 0.0, 1.0)
        proj = p0[None, :, :] + u[:, :, None] * d[None, :, :]
        delta = q[:, None, :] - proj
        return float((delta * delta).sum(2).min())

    def segs(p, m):
        p0, p1 = p[:-1], p[1:]
        if m is not None:
            p0, p1 = p0[m], p1[m]
        return p0, p1

    best = np.inf
    if len(pa) > 1:
        a0, a1 = segs(pa, ma)
        if len(a0):
            best = min(best, seg_pt_min(a0, a1, pb))
    if len(pb) > 1:
        b0, b1 = segs(pb, mb)
        if len(b0):
            best = min(best, seg_pt_min(b0, b1, pa))
    if np.isinf(best):
        # point-vs-point (or all segments masked): nearest point pair
        d2 = ((pa[:, None, :] - pb[None, :, :]) ** 2).sum(2)
        best = float(d2.min())
    # NOTE: segment-segment crossing (distance 0) is caught because a
    # crossing implies an endpoint of one polyline on each side of the
    # other — endpoint-to-segment distance still bounds it above; for
    # exact crossing detection add an intersection test:
    if len(pa) > 1 and len(pb) > 1 and best > 0:
        if _any_cross(pa, pb, ma, mb):
            return 0.0
    return float(np.sqrt(best))


def _any_cross(pa: np.ndarray, pb: np.ndarray, ma=None, mb=None) -> bool:
    """True iff any real segment of pa properly crosses any of pb
    (gap-spanning segments excluded via the masks)."""
    p0, p1 = pa[:-1], pa[1:]
    q0, q1 = pb[:-1], pb[1:]
    if ma is not None:
        p0, p1 = p0[ma], p1[ma]
    if mb is not None:
        q0, q1 = q0[mb], q1[mb]
    if not len(p0) or not len(q0):
        return False

    def cross(o, a, b):
        return (a[..., 0] - o[..., 0]) * (b[..., 1] - o[..., 1]) - (
            a[..., 1] - o[..., 1]
        ) * (b[..., 0] - o[..., 0])

    P0 = p0[:, None, :]
    P1 = p1[:, None, :]
    Q0 = q0[None, :, :]
    Q1 = q1[None, :, :]
    d1 = cross(P0, P1, Q0)
    d2 = cross(P0, P1, Q1)
    d3 = cross(Q0, Q1, P0)
    d4 = cross(Q0, Q1, P1)
    return bool(((d1 * d2 < 0) & (d3 * d4 < 0)).any())


_SPAN_ARR_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("lower", T.TimestampType()),
            T.StructField("upper", T.TimestampType()),
            T.StructField("lower_inc", T.BooleanType()),
            T.StructField("upper_inc", T.BooleanType()),
        ]
    )
)


# ---------------------------------------------------------------- flat input
def flat_cols(trip):
    """(t_secs, xs, ys, seq_lens) ARRAY columns from a temporal point.
    seq_lens (ARRAY<INT>, one instant count per sequence) carries the
    sequence structure the flat arrays lose, so the numpy kernels can
    mask inter-sequence gaps instead of interpolating across them."""
    from ..functions import temporal as TT

    inst = TT.instants(trip)
    return (
        F.transform(inst, lambda i: F.unix_micros(i["t"]) / F.lit(1_000_000.0)),
        F.transform(inst, lambda i: i["v"]["x"]),
        F.transform(inst, lambda i: i["v"]["y"]),
        F.transform(trip["seqs"], lambda s: F.size(s["instants"])),
    )


def _np(v) -> np.ndarray:
    return np.asarray(v, dtype=np.float64)


def _npl(v) -> np.ndarray | None:
    return None if v is None else np.asarray(v, dtype=np.int64)


def _pair_udf(kernel, rtype: T.DataType):
    """One pandas UDF over two flat `(t, x, y, lens)` sides — eight
    columns, from `flat_cols` or the flat-trips columns — plus any extra
    per-row columns (the distance), calling `kernel(side_a, side_b,
    *extra)` per row. NULL when either side is NULL or has no instants.

    A struct-typed UDF cannot emit a NULL row through Arrow, only a row
    of NULL fields, so for a struct `rtype` that row is turned into NULL
    JVM-side: a kernel result of None is NULL for every return type."""
    struct = isinstance(rtype, T.StructType)

    @F.pandas_udf(rtype)
    def pair(*cols: pd.Series) -> pd.Series:
        out = []
        for ta, xa, ya, la, tb, xb, yb, lb, *extra in zip(*cols):
            if ta is None or tb is None or not len(ta) or not len(tb):
                out.append(None)
                continue
            out.append(kernel(
                (_np(ta), _np(xa), _np(ya), _npl(la)),
                (_np(tb), _np(xb), _np(yb), _npl(lb)),
                *extra,
            ))
        if struct:
            names = [f.name for f in rtype.fields]
            return pd.DataFrame(
                [dict.fromkeys(names) if r is None else r for r in out],
                columns=names,
            )
        return pd.Series(out, dtype="object")

    if not struct:
        return pair

    def op(*cols):
        out = pair(*cols)
        return F.when(out[rtype.fields[0].name].isNotNull(), out)

    return op


def _to_dt(s: float) -> datetime.datetime:
    return datetime.datetime.fromtimestamp(s, tz=datetime.timezone.utc).replace(
        tzinfo=None
    )


def _min_dist(a, b):
    sync = _sync_segments(a, b)
    return float(np.sqrt(_min_dist_sq_profile(sync))) if sync else None


def _e_dwithin(a, b, d):
    sync = _sync_segments(a, b)
    return bool(_min_dist_sq_profile(sync) <= d * d) if sync else False


def _a_disjoint(a, b):
    # "always disjoint": min distance over the shared window > 0;
    # temporals that never overlap in time are trivially disjoint
    sync = _sync_segments(a, b)
    return True if sync is None else bool(_min_dist_sq_profile(sync) > 0)


def _dwithin_periods(a, b, d):
    sync = _sync_segments(a, b)
    if sync is None:
        return []
    # closed upper bound: at the root of the quadratic the distance
    # equals d, which satisfies <= d
    return [
        {"lower": _to_dt(lo), "upper": _to_dt(hi),
         "lower_inc": True, "upper_inc": True}
        for lo, hi in _dwithin_intervals(sync, float(d))
    ]


def _tdwithin_tbool(a, b, d):
    sync = _sync_segments(a, b)
    if sync is None:
        return None
    ts, pax, pay, pbx, pby, vk, _ = sync
    d2 = float(d) * float(d)
    insts = [
        {"t": _to_dt(t), "v": bool((ax - bx) ** 2 + (ay - by) ** 2 <= d2)}
        for t, ax, ay, bx, by, ok in zip(ts, pax, pay, pbx, pby, vk)
        if ok
    ]
    if not insts:
        return None
    return {
        "subtype": 1 if len(insts) == 1 else 2,
        "interp": 1,
        "seqs": [{"lower_inc": True, "upper_inc": True, "instants": insts}],
    }


_TBOOL_TYPE = T.StructType([
    T.StructField("subtype", T.ByteType()),
    T.StructField("interp", T.ByteType()),
    T.StructField("seqs", T.ArrayType(T.StructType([
        T.StructField("lower_inc", T.BooleanType()),
        T.StructField("upper_inc", T.BooleanType()),
        T.StructField("instants", T.ArrayType(T.StructType([
            T.StructField("t", T.TimestampType()),
            T.StructField("v", T.BooleanType()),
        ]))),
    ]))),
])

# The pair ops. Each takes the eight flat columns `*flat_cols(a),
# *flat_cols(b)`; those with a distance take it as a ninth column.
# min synchronized distance (NULL when the time windows never overlap)
min_pair_distance = _pair_udf(_min_dist, T.DoubleType())
# eDwithin(a, b, d)
e_dwithin = _pair_udf(_e_dwithin, T.BooleanType())
# aDisjoint(a, b)
a_disjoint = _pair_udf(_a_disjoint, T.BooleanType())
# ST_Distance(trajectory(a), trajectory(b)), time ignored (BerlinMOD q5)
min_traj_distance = _pair_udf(_min_polyline_dist, T.DoubleType())
# whenTrue(tDwithin(a, b, d)) as a tstzspanset — the form every recorded
# BerlinMOD query consumes
dwithin_periods = _pair_udf(_dwithin_periods, _SPAN_ARR_TYPE)
# tDwithin(a, b, d) as a discrete temporal bool (the reference's return
# type, MEOS tdwithin_tgeo_tgeo): ‖pa−pb‖ ≤ d at every co-defined
# synchronized instant
tdwithin_tbool = _pair_udf(_tdwithin_tbool, _TBOOL_TYPE)


def register_probe_edwithin_udf(probes: list, d: float, ordered: bool = False):
    """Broadcast-closure pairwise eDwithin for a SMALL probe fleet —
    the pairwise analog of a broadcast hash join. `probes` is a
    driver-side list of dicts {vid, t, x, y, lens} (bounded: the caller
    only collects when the probe side is tiny, e.g. 10 licences).

    Returns a pandas UDF (t, x, y, lens, self_vid) → ARRAY<LONG> of
    probe vids whose synchronized distance to the row's trajectory ever
    drops to ≤ d (self excluded). One Arrow pass over the large side —
    each row's arrays cross the boundary ONCE instead of once per
    candidate pair (the join formulation shipped |probes|× the data:
    ~500 MB vs ~50 MB at sf0.1 for the bm_q10 shape). Probe bboxes
    prefilter inside the kernel; the exact kernel is the same
    _sync_segments + _min_dist_sq_profile as every other pairwise op.

    `ordered=True` is the SELF-pair form (probes == the scanned fleet):
    only probes with vid < the row's vid are tested, so each unordered
    pair is evaluated exactly once — half the kernel calls and the
    vid1 < vid2 dedup for free."""
    pre = []
    for p in probes:
        t_ = _np(p["t"]); x_ = _np(p["x"]); y_ = _np(p["y"])
        pre.append(
            (
                int(p["vid"]), (t_, x_, y_, _npl(p["lens"])),
                float(x_.min()) - d, float(x_.max()) + d,
                float(y_.min()) - d, float(y_.max()) + d,
            )
        )
    d2 = float(d) * float(d)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probe_hits(
        t: pd.Series, x: pd.Series, y: pd.Series, l: pd.Series,
        vid: pd.Series,
    ) -> pd.Series:
        out = []
        for tv, xv, yv, lv, v2 in zip(t, x, y, l, vid):
            side_b = (_np(tv), _np(xv), _np(yv), _npl(lv))
            bx0, bx1 = float(side_b[1].min()), float(side_b[1].max())
            by0, by1 = float(side_b[2].min()), float(side_b[2].max())
            hits = []
            for pvid, side_a, px0, px1, py0, py1 in pre:
                if (pvid >= int(v2)) if ordered else (pvid == int(v2)):
                    continue
                if bx0 > px1 or bx1 < px0 or by0 > py1 or by1 < py0:
                    continue
                sync = _sync_segments(side_a, side_b)
                if sync is not None and _min_dist_sq_profile(sync) <= d2:
                    hits.append(pvid)
            out.append(hits)
        return pd.Series(out, dtype="object")

    return probe_hits
