"""2-D grid-bucketed spatial pair join (operators/range_join.py):
candidate completeness vs the broadcast theta-join path, a plan gate
proving the large×large shape shuffles instead of broadcasting, and
bm_q6/bm_q10 on the grid branch against their oracles."""

from pyspark.sql import functions as F

from mobilityduck_spark import berlinmod as Q
from mobilityduck_spark.functions import box as B
from mobilityduck_spark.operators.range_join import grid_pair_candidates
from mobilityduck_spark.operators.tpoint_pairs import e_dwithin
from scripts import runner

SF_DIR = "/root/testdata/sf0.001"
D = 10.0
_FLAT = ("t_arr", "x_arr", "y_arr", "len_arr")


def _side(t, n):
    return t.select(
        F.col("vehicle_id").alias(f"vid{n}"),
        *[F.col(c).alias(f"{c}{n}") for c in _FLAT],
        F.col("bb").alias(f"bb{n}"),
    )


def test_grid_candidates_match_broadcast_path(spark):
    """Both `_edwithin_pairs` plans (kernel closure and grid candidates)
    agree with an independent broadcast theta-join + exact kernel on the
    eDwithin self-pair set."""
    t = Q._trips(spark, SF_DIR)
    t1, t2 = _side(t, 1), _side(t, 2)
    bc = t1.join(
        F.broadcast(t2),
        (F.col("vid1") < F.col("vid2"))
        & B.stbox_overlaps(
            B.expand_space(F.col("bb1"), F.lit(D)), F.col("bb2")
        ),
    ).filter(e_dwithin(*[f"{c}{n}" for n in (1, 2) for c in _FLAT], F.lit(D)))
    expected = {(r["vid1"], r["vid2"]) for r in bc.collect()}
    assert expected, "planted data should contain close pairs"

    for n_probes in (0, Q._GRID_PAIR_THRESHOLD + 1):
        pairs = Q._edwithin_pairs(spark, t, t, D, n_probes, self_pairs=True)
        assert {(r["vid1"], r["vid2"]) for r in pairs.collect()} == expected


def test_grid_candidate_plan_shuffles(spark):
    """With broadcasting disabled (the large×large regime), the
    candidate join is a shuffled equi-join: no BroadcastNestedLoopJoin,
    no CartesianProduct."""
    t = Q._trips(spark, SF_DIR)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = grid_pair_candidates(t, t, "vehicle_id", "vehicle_id", d=D)
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
        assert cand.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_asof_join_semantics(spark):
    from pyspark.sql import functions as F

    from mobilityduck_spark.operators.range_join import asof_join

    ev = spark.createDataFrame(
        [
            (1, 100, 1, 10.0, "a"),
            (1, 200, 2, 20.0, "b"),
            (1, 200, 3, 30.0, "c"),  # same ts as event 2 — tiebreak on id
            (2, 500, 4, 50.0, "d"),
        ],
        "user_id long, ts long, event_id long, value double, event_type string",
    )
    probes = spark.createDataFrame(
        [(1, 10, 50), (1, 11, 100), (1, 12, 200), (1, 13, 999), (2, 14, 499)],
        "user_id long, probe_id long, pts long",
    )
    out = asof_join(
        probes, ev, key="user_id", probe_ts="pts", event_ts="ts",
        value_cols=["value", "event_type"], tiebreak="event_id",
    )
    got = {r["probe_id"]: (r["value"], r["event_type"]) for r in out.collect()}
    assert got[10] == (None, None)          # before any event
    assert got[11] == (10.0, "a")           # ties are inclusive (ts == pts)
    assert got[12] == (30.0, "c")           # equal-ts events: max event_id wins
    assert got[13] == (30.0, "c")
    assert got[14] == (None, None)          # other key, probe before its event


def test_asof_join_null_semantics(spark):
    from pyspark.sql import functions as F

    import pytest

    from mobilityduck_spark.operators.range_join import asof_join

    ev = spark.createDataFrame(
        [
            (1, 100, 1, 10.0, "a"),
            (1, 200, 2, None, "b"),    # latest event has a NULL value
            (2, None, 3, 99.0, "x"),   # NULL event_ts: never matches
        ],
        "user_id long, ts long, event_id long, value double, event_type string",
    )
    probes = spark.createDataFrame(
        [(1, 10, 300), (2, 11, 500)],
        "user_id long, probe_id long, pts long",
    )
    out = asof_join(
        probes, ev, key="user_id", probe_ts="pts", event_ts="ts",
        value_cols=["value", "event_type"], tiebreak="event_id",
    )
    got = {r["probe_id"]: (r["value"], r["event_type"]) for r in out.collect()}
    # the matched row is atomic: the latest event's NULL value stays
    # NULL instead of bleeding the older event's 10.0
    assert got[10] == (None, "b")
    # NULL-ts events are excluded entirely
    assert got[11] == (None, None)
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            probes.withColumnRenamed("probe_id", "value"), ev,
            key="user_id", probe_ts="pts", event_ts="ts",
            value_cols=["value"],
        )
    # plan: no join operator at all, single key shuffle + window
    plan = str(out._jdf.queryExecution().executedPlan())
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # key hash + AQE read at most


def test_asof_join_null_tiebreak_loses_ties(spark):
    # at an equal event timestamp, a NULL-tiebreak event must lose to any
    # non-NULL tiebreak (oracle semantics: ORDER BY tiebreak DESC NULLS
    # LAST picks the max non-NULL event)
    from mobilityduck_spark.operators.range_join import asof_join

    ev = spark.createDataFrame(
        [(1, 100, None, 1.0), (1, 100, 5, 2.0), (1, 100, 3, 3.0)],
        "user_id long, ts long, event_id long, value double",
    )
    probes = spark.createDataFrame(
        [(1, 10, 100)], "user_id long, probe_id long, pts long"
    )
    out = asof_join(
        probes, ev, key="user_id", probe_ts="pts", event_ts="ts",
        value_cols=["value"], tiebreak="event_id",
    )
    assert out.collect()[0]["value"] == 2.0  # event_id=5 wins, not NULL


def test_grid_branch_matches_oracle(spark, monkeypatch):
    """bm_q6 and bm_q10 on the grid-candidate branch (forced by a zero
    threshold) equal their DuckDB oracles under scripts/runner.check."""
    monkeypatch.setattr(Q, "_GRID_PAIR_THRESHOLD", 0)
    with runner.oracle_db(SF_DIR) as con:
        for name in ("bm_q6", "bm_q10"):
            row, mism = runner.check(spark, SF_DIR, name, con)
            assert row["err"] is None, row["err"]
            assert row["spark_rows"], name
            assert row["hash_match"], (name, row, mism)
