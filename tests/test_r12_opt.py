"""Round-12 optimization pins:

- the mega-basket cap is enforced BEFORE collect_set builds an array
  (no aggregation buffer ever holds a degenerate basket's item set);
- the fused single-rank RFM reproduces the old three-pass ntile chain
  exactly.
"""

import re

import pyspark.sql.functions as F

from mobilityduck_spark import queries as Q
from mobilityduck_spark.operators import basket as BK
from mobilityduck_spark.operators import events as EV
from mobilityduck_spark.plans import formatted_plan
from mobilityduck_spark.sources import tables as SRC

SF = "/root/testdata/sf0.001"


def _detail_numbers(plan: str, pattern: str) -> list[int]:
    """Numbers of the formatted-plan detail blocks whose body matches
    `pattern` (numbering is leaf-first, so a smaller number executes
    earlier)."""
    blocks = re.split(r"^\((\d+)\) ", plan, flags=re.M)
    out = []
    # blocks = [prefix, n1, body1, n2, body2, ...]
    for i in range(1, len(blocks) - 1, 2):
        if re.search(pattern, blocks[i + 1]):
            out.append(int(blocks[i]))
    return out


def test_mega_basket_dropped_without_buffering(spark):
    # a planted 10^6-item basket must be dropped by the cap — and the
    # cap must run BEFORE collect_set, so no aggregation buffer ever
    # materializes the mega set (VERDICT r11 item 3)
    mega = spark.range(1_000_000).select(
        F.lit(1).alias("b"), F.col("id").cast("string").alias("i")
    )
    small = spark.createDataFrame(
        [(2, "x"), (2, "y"), (3, "x"), (3, "y")], "b bigint, i string"
    )
    df = mega.unionByName(small)
    out = BK.pair_rules(df, "b", "i", min_support=2, max_basket=1000).collect()
    assert {(r["item_a"], r["item_b"]) for r in out} == {("x", "y")}
    arr = BK._capped_basket_arrays(df, "b", "i", 1000)
    plan = formatted_plan(arr)
    filt = _detail_numbers(plan, r"_nd#\d+L? <= 1000")
    agg = _detail_numbers(plan, r"collect_set")
    assert filt and agg, plan
    # the cap filter executes strictly before the collect_set that
    # consumes it (the formatted plan may print the cached subtree more
    # than once — e.g. [15, 27] filters vs [17, 18, 29, 30] collects —
    # so assert per printed copy: every collect_set node has a cap
    # filter numbered below it, and the first operator of the two is
    # always the filter)
    assert all(any(f < a for f in filt) for a in agg), (filt, agg)
    assert min(filt) < min(agg), (filt, agg)
    Q.release_operator_caches()


def test_capped_arrays_null_boundary_matches_oracle(spark):
    # a (basket, NULL) row counts toward the size cap (the oracle's
    # COUNT(*) over the DISTINCT relation counts it) but never appears
    # in the item array
    rows = [(1, "a"), (1, "b"), (1, None), (2, "a"), (2, "b")]
    df = spark.createDataFrame(rows, "b bigint, i string")
    arr = {
        r["b"]: r["items"]
        for r in BK._capped_basket_arrays(df, "b", "i", 2).collect()
    }
    # basket 1 has 3 distinct rows (a, b, NULL) -> over the cap of 2
    assert set(arr) == {2}
    assert arr[2] == ["a", "b"]
    Q.release_operator_caches()


def test_rfm_fused_rank_matches_three_pass(spark):
    """The single exploded-(metric, value) rank must reproduce the old
    three-chained-_scalable_ntile composition row for row."""
    ev = SRC.load(spark, SF, "events")
    got = {r["user_id"]: r.asDict() for r in EV.rfm_scores(ev).collect()}

    # frozen reference: the pre-round-12 three-pass formulation
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.round(F.col("value") * 1e6).cast("bigint").alias("v_micro"),
    )
    per = conv.groupBy("user_id").agg(
        F.max("t_us").alias("last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("v_micro").alias("monetary_micro"),
    )
    anchor = conv.agg(F.max("t_us").alias("anchor_us"))
    per = per.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days",
        ((F.col("anchor_us") - F.col("last_us")) / F.lit(86_400_000_000))
        .cast("bigint"),
    )
    per = EV._scalable_ntile(
        per, "last_us",
        (F.col("last_us") / F.lit(86_400_000_000)).cast("bigint"),
        "user_id", 5, "r_score",
    )
    per = EV._scalable_ntile(
        per, "frequency", F.col("frequency"), "user_id", 5, "f_score",
    )
    per = EV._scalable_ntile(
        per, "monetary_micro",
        (F.col("monetary_micro") / F.lit(100_000_000)).cast("bigint"),
        "user_id", 5, "m_score",
    )
    exp = {r["user_id"]: r.asDict() for r in per.collect()}
    assert set(got) == set(exp)
    for uid, g in got.items():
        e = exp[uid]
        for k in ("recency_days", "frequency", "monetary_micro",
                  "r_score", "f_score", "m_score"):
            assert g[k] == e[k], (uid, k, g, e)
        assert g["rfm"] == e["r_score"] * 100 + e["f_score"] * 10 + e["m_score"]
    Q.release_operator_caches()
