"""TBOX/STBOX + TGEOMPOINT — goldens from /root/reference/test/sql/
tbox.test, stbox.test, tgeompoint.test semantics."""

import datetime

from pyspark.sql import functions as F

from mobilityduck_spark.functions import box as B
from mobilityduck_spark.functions import temporal as TT
from mobilityduck_spark.functions import tpoint as TP

from tests.conftest import temporal_df


def one(df, col):
    return df.select(col.alias("r")).collect()[0]["r"]


def ts(s):
    return F.to_timestamp(F.lit(s))


def test_tbox_overlaps_contains(spark):
    df = spark.range(1)
    a = B.tbox(xmin=1, xmax=5, tmin=ts("2000-01-01"), tmax=ts("2000-01-05"))
    b = B.tbox(xmin=4, xmax=9, tmin=ts("2000-01-04"), tmax=ts("2000-01-09"))
    c = B.tbox(xmin=2, xmax=3, tmin=ts("2000-01-02"), tmax=ts("2000-01-03"))
    d = B.tbox(xmin=6, xmax=9, tmin=ts("2000-01-01"), tmax=ts("2000-01-02"))
    assert one(df, B.tbox_overlaps(a, b)) is True
    assert one(df, B.tbox_overlaps(a, d)) is False  # x-dim disjoint
    assert one(df, B.tbox_contains(a, c)) is True
    assert one(df, B.tbox_contains(c, a)) is False
    # value-only box vs full box: compare only shared dims
    vx = B.tbox(xmin=4, xmax=4.5)
    assert one(df, B.tbox_overlaps(a, vx)) is True


def test_tbox_of_temporal(spark):
    df = temporal_df(spark, ["[1@2000-01-01, 5@2000-01-03]"], "float")
    r = one(df, B.tbox_of_temporal(F.col("t")))
    assert r["xmin"] == 1.0 and r["xmax"] == 5.0
    assert r["tmin"] == datetime.datetime(2000, 1, 1)
    assert r["tmax"] == datetime.datetime(2000, 1, 3)


def test_tbox_expand_shift(spark):
    df = spark.range(1)
    a = B.tbox(xmin=1, xmax=5)
    r = one(df, B.tbox_expand_value(a, F.lit(2.0)))
    assert r["xmin"] == -1.0 and r["xmax"] == 7.0
    r = one(df, B.tbox_shift_value(a, F.lit(10.0)))
    assert r["xmin"] == 11.0 and r["xmax"] == 15.0


def _traj(spark):
    """[P(0,0)@01, P(3,4)@02, P(3,8)@03] linear."""
    mk = lambda x, y, d: F.struct(  # noqa: E731
        F.to_timestamp(F.lit(f"2000-01-0{d}")).alias("t"),
        TP.point(F.lit(x), F.lit(y)).alias("v"),
    )
    return spark.range(1).select(
        TP.tpoint_seq(F.array(mk(0, 0, 1), mk(3, 4, 2), mk(3, 8, 3))).alias("tp")
    )


def test_tpoint_length_and_speed(spark):
    df = _traj(spark)
    assert one(df, TP.length(F.col("tp"))) == 9.0  # 5 + 4
    dur = one(df, TT.duration_secs(F.col("tp")))
    assert dur == 2 * 86400.0
    assert abs(one(df, TP.speed(F.col("tp"))) - 9.0 / dur) < 1e-12


def test_trajectory_wkt(spark):
    df = _traj(spark)
    assert one(df, TP.trajectory_wkt(F.col("tp"))) == "LINESTRING(0 0, 3 4, 3 8)"
    single = spark.range(1).select(
        TP.tpoint_inst(F.lit(1.5), F.lit(2.0), ts("2000-01-01")).alias("tp")
    )
    assert one(single, TP.trajectory_wkt(F.col("tp"))) == "POINT(1.5 2)"


def test_tpoint_value_at_timestamp(spark):
    df = _traj(spark)
    # midpoint of first segment
    r = one(df, TP.value_at_timestamp(F.col("tp"), ts("2000-01-01 12:00:00")))
    assert r["x"] == 1.5 and r["y"] == 2.0
    # exact instant
    r = one(df, TP.value_at_timestamp(F.col("tp"), ts("2000-01-02")))
    assert r["x"] == 3.0 and r["y"] == 4.0
    # outside
    assert one(df, TP.value_at_timestamp(F.col("tp"), ts("2001-01-01"))) is None


def test_stbox_of_tpoint_and_predicates(spark):
    df = _traj(spark)
    b = one(df, B.stbox_of_tpoint(F.col("tp")))
    assert (b["xmin"], b["ymin"], b["xmax"], b["ymax"]) == (0.0, 0.0, 3.0, 8.0)
    probe = B.stbox(xmin=2, ymin=3, xmax=4, ymax=5, tmin=ts("2000-01-01"), tmax=ts("2000-01-04"))
    far = B.stbox(xmin=100, ymin=100, xmax=101, ymax=101)
    assert one(df, B.stbox_overlaps(B.stbox_of_tpoint(F.col("tp")), probe)) is True
    assert one(df, B.stbox_overlaps(B.stbox_of_tpoint(F.col("tp")), far)) is False
    assert one(df, B.area(probe)) == 4.0
    assert one(df, B.stbox_to_wkt(far)) == (
        "POLYGON((100 100, 101 100, 101 101, 100 101, 100 100))"
    )


def test_at_values_point(spark):
    df = _traj(spark)
    r = one(df, TP.at_values_point(F.col("tp"), F.lit(3.0), F.lit(4.0)))
    assert r is not None and r["subtype"] == 1
    assert one(df, TP.at_values_point(F.col("tp"), F.lit(9.0), F.lit(9.0))) is None


def _line(spark, pts, **kw):
    """Linear tpoint through (x, y, 'ts') triples."""
    mk = lambda x, y, t: F.struct(  # noqa: E731
        F.to_timestamp(F.lit(t)).alias("t"),
        TP.point(F.lit(float(x)), F.lit(float(y))).alias("v"),
    )
    return spark.range(1).select(
        TP.tpoint_seq(F.array(*[mk(*p) for p in pts]), **kw).alias("tp")
    )


def test_at_stbox_crossing_between_samples(spark):
    # (0,0)@00:00 → (10,0)@00:10 crosses x∈[4,6] entirely between
    # samples: no observed instant is inside, yet the exact clip keeps
    # the 2-minute interior crossing with interpolated entry/exit instants.
    df = _line(spark, [(0, 0, "2000-01-01 00:00:00"), (10, 0, "2000-01-01 00:10:00")])
    box = B.stbox(xmin=4, ymin=-1, xmax=6, ymax=1)
    r = one(df, TP.at_stbox(F.col("tp"), box))
    assert r is not None
    inst = r["seqs"][0]["instants"]
    assert inst[0]["t"] == datetime.datetime(2000, 1, 1, 0, 4)
    assert inst[-1]["t"] == datetime.datetime(2000, 1, 1, 0, 6)
    assert abs(inst[0]["v"]["x"] - 4.0) < 1e-9
    assert abs(inst[-1]["v"]["x"] - 6.0) < 1e-9
    assert one(df, TT.duration_us(TP.at_stbox(F.col("tp"), box))) == 120_000_000


def test_at_stbox_corner_clip_diagonal(spark):
    # Diagonal (0,0)→(10,10) through box x∈[2,4], y∈[2,4]: inside on
    # u∈[0.2,0.4] → 2 of 10 minutes.
    df = _line(spark, [(0, 0, "2000-01-01 00:00:00"), (10, 10, "2000-01-01 00:10:00")])
    box = B.stbox(xmin=2, ymin=2, xmax=4, ymax=4)
    assert one(df, TT.duration_us(TP.at_stbox(F.col("tp"), box))) == 120_000_000
    # corner-miss: box x∈[2,4], y∈[6,8] — diagonal never inside both
    miss = B.stbox(xmin=2, ymin=6, xmax=4, ymax=8)
    assert one(df, TP.at_stbox(F.col("tp"), miss)) is None


def test_at_stbox_time_clip(spark):
    # Box with both space and time extents: space admits u∈[0,1] but
    # time window trims to the middle 4 minutes.
    df = _line(spark, [(0, 0, "2000-01-01 00:00:00"), (10, 0, "2000-01-01 00:10:00")])
    box = B.stbox(
        xmin=-1, ymin=-1, xmax=11, ymax=1,
        tmin=ts("2000-01-01 00:03:00"), tmax=ts("2000-01-01 00:07:00"),
    )
    r = one(df, TP.at_stbox(F.col("tp"), box))
    inst = r["seqs"][0]["instants"]
    assert inst[0]["t"] == datetime.datetime(2000, 1, 1, 0, 3)
    assert inst[-1]["t"] == datetime.datetime(2000, 1, 1, 0, 7)
    assert abs(inst[0]["v"]["x"] - 3.0) < 1e-9  # interpolated at entry


def test_at_stbox_multi_segment_reentry(spark):
    # Zig-zag: enters the box twice → two spans in the restriction.
    df = _line(
        spark,
        [
            (0, 0, "2000-01-01 00:00:00"),
            (10, 0, "2000-01-01 00:10:00"),
            (0, 0, "2000-01-01 00:20:00"),
        ],
    )
    box = B.stbox(xmin=4, ymin=-1, xmax=6, ymax=1)
    ss = one(df, TP.clip_spanset(F.col("tp"), box))
    assert len(ss) == 2
    assert one(df, TT.duration_us(TP.at_stbox(F.col("tp"), box))) == 240_000_000


def test_clip_duration_matches_at_stbox(spark):
    df = _line(
        spark,
        [
            (0, 0, "2000-01-01 00:00:00"),
            (10, 10, "2000-01-01 00:10:00"),
            (0, 5, "2000-01-01 00:25:00"),
        ],
    )
    for box in (
        B.stbox(xmin=2, ymin=2, xmax=4, ymax=4),
        B.stbox(xmin=2, ymin=2, xmax=8, ymax=60),
        B.stbox(
            xmin=-1, ymin=-1, xmax=11, ymax=11,
            tmin=ts("2000-01-01 00:03:00"), tmax=ts("2000-01-01 00:07:00"),
        ),
        B.stbox(xmin=50, ymin=50, xmax=60, ymax=60),
    ):
        direct = one(df, TP.clip_duration_us(F.col("tp"), box))
        via_restrict = one(df, TT.duration_us(TP.at_stbox(F.col("tp"), box)))
        assert direct == (via_restrict or 0)


def test_clip_spanset_exclusive_sequence_bounds(spark):
    # sequence ((0,0)@00:00, (10,0)@00:10] with exclusive lower bound,
    # box covering x in [0,5]: the restriction starts exactly at the
    # open sequence boundary, so the emitted span must be lower-open
    # (MEOS keeps the sequence's own bound flags).
    df = _line(
        spark,
        [(0, 0, "2000-01-01 00:00:00"), (10, 0, "2000-01-01 00:10:00")],
        lower_inc=False,
    )
    box = B.stbox(xmin=0, ymin=-1, xmax=5, ymax=1)
    ss = one(df, TP.clip_spanset(F.col("tp"), box))
    assert len(ss) == 1
    assert ss[0]["lower_inc"] is False
    assert ss[0]["upper_inc"] is True
    assert ss[0]["lower"] == datetime.datetime(2000, 1, 1, 0, 0)
    assert ss[0]["upper"] == datetime.datetime(2000, 1, 1, 0, 5)
    # closed-bound control: same clip is lower-closed
    df2 = _line(
        spark,
        [(0, 0, "2000-01-01 00:00:00"), (10, 0, "2000-01-01 00:10:00")],
    )
    ss2 = one(df2, TP.clip_spanset(F.col("tp"), box))
    assert ss2[0]["lower_inc"] is True


def test_trajectory_wkt_collection_and_multipoint(spark):
    # seqset {[P(1,1)@01, P(2,2)@02], [P(3,3)@04, P(3,3)@05]}: the
    # stationary sequence degenerates to a POINT -> mixed collection,
    # points first (golden test/sql/tgeompoint.test:173-175)
    mk = lambda x, y, d: F.struct(  # noqa: E731
        F.to_timestamp(F.lit(f"2000-01-0{d}")).alias("t"),
        TP.point(F.lit(float(x)), F.lit(float(y))).alias("v"),
    )
    seq1 = TP.tpoint_seq(F.array(mk(1, 1, 1), mk(2, 2, 2)))
    seq2 = TP.tpoint_seq(F.array(mk(3, 3, 4), mk(3, 3, 5)))
    ss = TT.tsequenceset(
        F.concat(seq1["seqs"], seq2["seqs"]), interp="linear"
    )
    df = spark.range(1).select(ss.alias("tp"))
    assert (
        one(df, TP.trajectory_wkt(F.col("tp")))
        == "GEOMETRYCOLLECTION(POINT(3 3), LINESTRING(1 1, 2 2))"
    )
    # discrete temporal -> MULTIPOINT of distinct positions
    disc = TT.tsequence(
        F.array(mk(1, 1, 1), mk(2, 2, 2), mk(1, 1, 3)), interp="discrete"
    )
    dfd = spark.range(1).select(disc.alias("tp"))
    assert (
        one(dfd, TP.trajectory_wkt(F.col("tp"))) == "MULTIPOINT(1 1, 2 2)"
    )


def test_tbox_scale_time_value_only_box(spark):
    # scaleTime on a value-only TBOX (hast=false) must not fabricate a
    # time dimension (MEOS errors; we return the box unchanged)
    df = spark.range(1)
    vx = B.tbox(xmin=1, xmax=5)
    r = one(df, B.tbox_scale_time(vx, F.expr("INTERVAL 1 DAY")))
    assert r["tmax"] is None and r["tmin"] is None


def test_at_stbox_duration_dense_sampling_independent(spark):
    """INDEPENDENT semantic check for the exact Liang-Barsky clip (the
    registered oracle transliterates the engine's formula): densely
    sample every motion segment of the single-sequence trajectories with
    fresh numpy box tests and integrate approximate time-in-box; the
    exact per-user answer must sit within the sampling-error bound."""
    import collections

    import numpy as np

    from mobilityduck_spark import queries as Q

    SF = "/root/testdata/sf0.001"
    exact = {
        r["user_id"]: r["in_us"]
        for r in Q.queries()["at_stbox_duration"](spark, SF).collect()
    }
    assert exact

    ev = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "user_id", "CAST(ts AS TIMESTAMP) ts", "event_id"
    ).collect()
    pts = collections.defaultdict(list)
    for r in ev:
        x = (r["event_id"] % 1000) / 10.0
        y = (r["event_id"] * 7919 % 1000) / 10.0
        pts[r["user_id"]].append((r["ts"].timestamp(), x, y))
    for v in pts.values():
        v.sort()

    N = 200
    checked = 0
    for user, dur_us in sorted(exact.items(), key=lambda kv: -kv[1])[:8]:
        approx = err_cap = 0.0
        seq = pts[user]
        for (t0, x0, y0), (t1, x1, y1) in zip(seq, seq[1:]):
            s = (np.arange(N) + 0.5) / N
            xs, ys = x0 + (x1 - x0) * s, y0 + (y1 - y0) * s
            inside = (xs >= 20.0) & (xs <= 60.0) & (ys >= 20.0) & (ys <= 60.0)
            approx += inside.mean() * (t1 - t0)
            err_cap += 8.0 * (t1 - t0) / N  # ≤2 samples per crossing, ≤4 faces
        tol_us = (err_cap + 60.0) * 1e6
        assert abs(dur_us - approx * 1e6) <= tol_us, (
            f"user {user}: exact {dur_us} vs sampled {approx * 1e6:.0f} "
            f"(tol {tol_us:.0f})"
        )
        checked += 1
    assert checked >= 5
