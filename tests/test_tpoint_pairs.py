"""Pairwise trajectory ops (pandas-UDF path) — eDwithin/aDisjoint/
tDwithin semantics from src/geo/tgeompoint.cpp:279-311."""

from pyspark.sql import functions as F

from mobilityduck_spark.functions import tpoint as TP
from mobilityduck_spark.operators import tpoint_pairs as PP


def _mk(spark):
    def traj(points):
        arr = F.array(
            *[
                F.struct(
                    F.to_timestamp(F.lit(t)).alias("t"),
                    TP.point(F.lit(float(x)), F.lit(float(y))).alias("v"),
                )
                for t, x, y in points
            ]
        )
        return TP.tpoint_seq(arr)

    # a: moves 0,0 → 10,0 over 10 days; b: parallel at y=3; c: crosses a
    a = traj([("2000-01-01", 0, 0), ("2000-01-11", 10, 0)])
    b = traj([("2000-01-01", 0, 3), ("2000-01-11", 10, 3)])
    c = traj([("2000-01-01", 0, -5), ("2000-01-11", 10, 5)])
    d = traj([("2001-06-01", 0, 0), ("2001-06-02", 1, 0)])  # no time overlap
    return spark.range(1).select(
        a.alias("a"), b.alias("b"), c.alias("c"), d.alias("d")
    )


def _flat(*names):
    return [c for n in names for c in PP.flat_cols(F.col(n))]


def test_pairwise_ops(spark):
    df = _mk(spark)
    r = df.select(
        PP.min_pair_distance(*_flat("a", "b")).alias("dab"),
        PP.min_pair_distance(*_flat("a", "c")).alias("dac"),
        PP.e_dwithin(*_flat("a", "b"), F.lit(3.5)).alias("w35"),
        PP.e_dwithin(*_flat("a", "b"), F.lit(2.0)).alias("w20"),
        PP.a_disjoint(*_flat("a", "b")).alias("disj_ab"),
        PP.a_disjoint(*_flat("a", "c")).alias("disj_ac"),
        PP.a_disjoint(*_flat("a", "d")).alias("disj_ad"),
    ).collect()[0]
    assert r["dab"] == 3.0  # constant parallel offset
    assert abs(r["dac"]) < 1e-9  # crossing → 0
    assert r["w35"] is True and r["w20"] is False
    assert r["disj_ab"] is True
    assert r["disj_ac"] is False  # they touch
    assert r["disj_ad"] is True  # disjoint in time


def test_tdwithin_periods(spark):
    df = _mk(spark)
    rows = df.select(
        PP.dwithin_periods(*_flat("a", "c"), F.lit(1.0)).alias("ss")
    ).collect()[0]["ss"]
    # |dy(t)| where dy goes 5 → -5 linearly over 10 days; within 1.0 for
    # dy ∈ [-1, 1] → days 4.0..6.0 (u ∈ [0.4, 0.6])
    assert len(rows) == 1
    sp = rows[0]
    assert sp["lower"].day == 5 and sp["lower"].hour == 0  # Jan 1 + 4d = Jan 5
    assert sp["upper"].day == 7 and sp["upper"].hour == 0


def test_pair_ops_null_or_empty_side(spark):
    """Every pair op gives NULL when a side is NULL or has no instants,
    on either side."""
    base = _mk(spark)
    tp = base.schema["a"].dataType
    df = base.select(
        "a",
        F.lit(None).cast(tp).alias("n"),
        F.col("a").withField("seqs", F.array().cast(tp["seqs"].dataType)).alias("e"),
    )
    d = F.lit(3.0)
    ops = {
        "min_pair_distance": lambda s: PP.min_pair_distance(*s),
        "e_dwithin": lambda s: PP.e_dwithin(*s, d),
        "a_disjoint": lambda s: PP.a_disjoint(*s),
        "min_traj_distance": lambda s: PP.min_traj_distance(*s),
        "dwithin_periods": lambda s: PP.dwithin_periods(*s, d),
        "tdwithin_tbool": lambda s: PP.tdwithin_tbool(*s, d),
    }
    cols = [
        op(_flat(*pair)).alias(f"{name}_{''.join(pair)}")
        for name, op in ops.items()
        for pair in (("a", "n"), ("n", "a"), ("a", "e"), ("e", "a"))
    ]
    r = df.select(*cols).collect()[0].asDict()
    assert len(r) == 24 and r == dict.fromkeys(r), r


def test_sync_masks_inter_sequence_gaps():
    """A seqset trip with a >gap hole must not fabricate straight-line
    positions across the gap (MEOS synchronizes defined sequences only).
    Trip A: two sequences [0s,10s] at y=0 and [100s,110s] at y=0, moving
    x 0→10 then 100→110. Trip B: single point-ish segment sitting at
    (55, 0.5) during [40s, 70s] — inside A's gap. Flattened interp would
    put A at x≈55 during the gap → distance 0.5; gap-aware sync must
    report no co-defined overlap at all."""
    import numpy as np

    ta = np.array([0.0, 10.0, 100.0, 110.0])
    xa = np.array([0.0, 10.0, 100.0, 110.0])
    ya = np.zeros(4)
    la = np.array([2, 2])
    tb = np.array([40.0, 70.0])
    xb = np.array([55.0, 55.0])
    yb = np.array([0.5, 0.5])
    sync = PP._sync_segments((ta, xa, ya, la), (tb, xb, yb, None))
    assert sync is None  # no co-defined instant

    # B extended to [40, 105]: co-defined only on [100, 105]
    tb2 = np.array([40.0, 105.0])
    xb2 = np.array([55.0, 55.0])
    yb2 = np.array([0.5, 0.5])
    sync2 = PP._sync_segments((ta, xa, ya, la), (tb2, xb2, yb2, None))
    assert sync2 is not None
    ts, _, _, _, _, vk, vs = sync2
    # knots inside A's gap (40, 100) are invalid
    for t, ok in zip(ts, vk):
        assert ok == (not (10.0 < t < 100.0))
    # min distance only over co-defined [100, 105]: A at x in [100,105],
    # B at (55, .5) → min dist = sqrt(45² + .5²), NOT 0.5
    d = np.sqrt(PP._min_dist_sq_profile(sync2))
    assert abs(d - np.hypot(45.0, 0.5)) < 1e-9

    # dwithin intervals must be empty for d=1 (never within 1 co-defined)
    assert PP._dwithin_intervals(sync2, 1.0) == []


def test_polyline_dist_skips_gap_segments():
    """Static trajectory distance: multi-sequence trips are
    MULTILINESTRINGs — the fictitious edge bridging a gap must not
    shrink distances. A = two horizontal dashes y=0: x[0,1] and x[9,10];
    B = point (5, 1). Bridge edge would pass under B (dist 1); real
    distance is to dash ends: hypot(4, 1)."""
    import numpy as np

    a = (
        np.array([0.0, 1.0, 2.0, 3.0]),
        np.array([0.0, 1.0, 9.0, 10.0]),
        np.zeros(4),
        np.array([2, 2]),
    )
    b = (np.array([0.0]), np.array([5.0]), np.array([1.0]), None)
    d = PP._min_polyline_dist(a, b)
    assert abs(d - np.hypot(4.0, 1.0)) < 1e-12

    # crossing detection must also ignore the bridge: B vertical segment
    # crossing x=5 — only the bridge would cross it
    b2 = (
        np.array([0.0, 1.0]),
        np.array([5.0, 5.0]),
        np.array([-1.0, 1.0]),
        None,
    )
    d2 = PP._min_polyline_dist(a, b2)
    assert d2 > 3.9  # not 0 (bridge crossing ignored)


# ------------------------------------------------ goldens-harness pins
# Reference-syntax cases replayed through goldens.replay_case; expected
# outputs checked by hand against the geometry. A moves (0,0)→(10,0) over
# Jan 1..11; B is A shifted to y=3; C is a two-sequence seqset below A on
# Jan 1..3 and above it on Jan 9..11 — interpolating across its gap would
# put C on A at Jan 6.
_A = "tgeompoint '[Point(0 0)@2000-01-01, Point(10 0)@2000-01-11]'"
_B = "tgeompoint '[Point(0 3)@2000-01-01, Point(10 3)@2000-01-11]'"
_C = (
    "tgeompoint '{[Point(0 -5)@2000-01-01, Point(2 -3)@2000-01-03], "
    "[Point(8 3)@2000-01-09, Point(10 5)@2000-01-11]}'"
)
_PIN_CASES = [
    (f"SELECT eDwithin({_A}, {_B}, 3.5);", "true"),
    (f"SELECT eDwithin({_A}, {_B}, 2.0);", "false"),
    # the gap is masked: C never touches A where both are defined
    (f"SELECT aDisjoint({_A}, {_C});", "true"),
    (
        f"SELECT asText(tDwithin({_A}, {_C}, 4.0));",
        "{f@2000-01-01 00:00:00+00, t@2000-01-03 00:00:00+00, "
        "t@2000-01-09 00:00:00+00, f@2000-01-11 00:00:00+00}",
    ),
]


def test_pair_goldens_pins(spark):
    from mobilityduck_spark import goldens as G

    for sql, expected in _PIN_CASES:
        assert G.replay_case(spark, sql, expected) == ("pass", ""), sql


def test_pair_goldens_null_operand(spark):
    """A NULL operand gives NULL for every pair op (the translator's
    literal row is replayed with either temporal set to NULL)."""
    from pyspark.sql import types as T

    from mobilityduck_spark import goldens as G

    for sql, _ in _PIN_CASES:
        for null_at in (0, 1):
            tr = G.Translator()
            col, kind = tr.eval(G.parse_select(sql))
            vals = list(tr.lit_values)
            vals[null_at] = None
            schema = T.StructType(
                [T.StructField(f"lit{i}", dt, True)
                 for i, dt in enumerate(tr.lit_schemas)]
            )
            row = spark.createDataFrame([tuple(vals)], schema).select(
                col.alias("r")
            ).collect()[0]
            assert G.render(row["r"], kind) == "NULL", (sql, null_at)
