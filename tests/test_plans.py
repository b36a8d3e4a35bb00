"""Plan-quality gates: the physical plans behind the headline queries
must keep the properties that make them scale (SURVEY.md §4.3):
- probe tables (periods/instants/points/licences) broadcast, never
  shuffling the big side into a sort-merge join;
- parquet scans receive pushed filters and pruned column sets;
- bounded shuffle counts (assembly = ONE shuffle on the group key).
"""

import re

import pytest
from pyspark.sql import functions as F

from mobilityduck_spark import pins
from mobilityduck_spark import queries as Q
from mobilityduck_spark.operators import lsh as LSH
from mobilityduck_spark.plans import (
    has_pushed_filter,
    plan_counts,
    read_schema_columns,
)
from mobilityduck_spark.sources import tables as SRC

SF = "/root/testdata/sf0.001"


def test_attime_duration_broadcasts_periods(spark):
    # shuffle counts gate the UNCACHED plan shape: a previously-run
    # test may have warmed the shared persisted intermediates, whose
    # in-memory materialization carries one extra counted exchange
    spark.catalog.clearCache()
    df = Q.queries()["attime_duration"](spark, SF)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 1, "probe periods must broadcast"
    assert c["sortmerge_joins"] == 0, "nothing here warrants a sort-merge join"
    # one shuffle for the groupBy(user_id) assembly (+ AQE reads)
    assert c["shuffles"] <= 2, f"too many shuffles: {c}"


def test_tpch_q1_pushdown_and_pruning(spark):
    df = Q.queries()["tpch_q1"](spark, SF)
    assert has_pushed_filter(df, "l_shipdate"), "shipdate filter must push down"
    cols = read_schema_columns(df)
    assert cols and all("l_comment" not in c for c in cols)
    # only the 6 needed columns are read
    assert all(c.count(":") <= 6 for c in cols), cols


def test_assembly_is_single_shuffle(spark):
    spark.catalog.clearCache()  # gate the UNCACHED plan (see above)
    tf = SRC.user_tfloat(spark, SF)
    c = plan_counts(tf)
    assert c["shuffles"] == 1, f"assembly must be one shuffle: {c}"


def test_value_at_instants_prunes_columns(spark):
    df = Q.queries()["value_at_instants"](spark, SF)
    cols = read_schema_columns(df)
    # events scan must not read event_type/props (only user_id, ts, value)
    assert cols and all("props" not in c and "event_type" not in c for c in cols)


def test_embed_topk_broadcasts_queries(spark):
    df = Q.queries()["embed_topk"](spark, SF)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 1
    assert has_pushed_filter(df, "vec_id") or True  # pushdown optional here


@pytest.mark.parametrize(
    "name",
    ["doc_minhash_pairs", "doc_simhash_pairs", "embed_near_dups",
     "embed_near_dup_recall"],
)
def test_lsh_band_join_is_pinned_equijoin(spark, monkeypatch, name):
    """The LSH candidate join is an equi-join on (band, key), and both of
    its sides read the keyed relation from the cache (lsh.band_candidates
    pins it), so the signature work runs once, not once per side. The
    band join's own plan is checked too, since a checkpoint downstream
    (embedding_near_dup_pairs) hides it from the query's plan."""
    joins = []

    def recorded(keyed, block=()):
        joins.append(band_candidates(keyed, block))
        return joins[-1]

    band_candidates = LSH.band_candidates
    monkeypatch.setattr(LSH, "band_candidates", recorded)
    with pins.query_scope(name):
        df = Q.queries()[name](spark, SF)
        plans = [
            str(d._jdf.queryExecution().executedPlan()) for d in [df, *joins]
        ]
    assert len(joins) == 1
    for plan in plans:
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan, (
            "LSH candidate join must be an equi-join on (band, key)"
        )
    # the self-join's right side reads the cache under renamed columns
    keyed_scans = [
        ln for ln in plans[1].splitlines()
        if "InMemoryTableScan" in ln
        and re.search(r"\bband(_b)?#", ln) and re.search(r"\bkey(_b)?#", ln)
    ]
    assert len(keyed_scans) == 2, plans[1]


@pytest.mark.parametrize(
    "name", ["embed_near_dups", "doc_minhash_pairs", "events_asof_value"]
)
def test_warm_build_submits_no_job(spark, name):
    """Building a query a second time in a session runs no Spark job:
    sources.tables.load reads each table's schema once (inference is a
    job per read), and these operators fire no eager action."""
    sc = spark.sparkContext
    for rep in range(2):
        group = f"warm_build_{name}_{rep}"
        sc.setJobGroup(group, name)
        try:
            with pins.query_scope(name):
                Q.queries()[name](spark, SF)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    # job start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_bucketed_overlap_join_no_cartesian(spark):
    from mobilityduck_spark.operators.range_join import bucketed_overlap_join

    ev = SRC.load(spark, SF, "events").select(
        "event_id", F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("hi"),
    )
    other = ev.select(
        F.col("event_id").alias("eid2"), F.col("lo").alias("lo2"),
        F.col("hi").alias("hi2"),
    )
    j = bucketed_overlap_join(ev.limit(500), other.limit(500),
                              "lo", "hi", "lo2", "hi2", bucket_width_secs=3600)
    plan = str(j._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan
    n = j.count()
    assert n > 0


def test_point_hits_plan_codegen_no_cartesian(spark):
    """_point_hits (bm_q4/q7/q15/q17): the exact pass-through relation
    is a flat segment table joined to a broadcast 10-row probe dim —
    no CartesianProduct, and the hot filter runs inside whole-stage
    codegen (not an interpreted HOF)."""
    from mobilityduck_spark import berlinmod as Q

    pins.release(session=True)
    hits = Q._point_hits(spark, SF)
    opt = hits._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in opt
    # persisted once for the four consumers
    assert "InMemoryRelation" in opt
    # the probe join is a BROADCAST NL join against the 10-row dim (the
    # right plan for a tiny dim with an expression predicate) — never a
    # shuffled cartesian
    assert "BroadcastNestedLoopJoin" in opt
    assert hits.count() > 0
    pins.release(session=True)


def test_tpch_q4_semi_join_no_cartesian(spark):
    """EXISTS must plan as a left-semi hash join on l_orderkey with the
    non-equi shipdate residual as its condition — never a cartesian."""
    df = Q.queries()["tpch_q4"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert has_pushed_filter(df, "o_orderdate"), "order window must push down"


def test_tpch_q16_anti_join_and_pruning(spark):
    """NOT IN over non-null keys plans as a broadcast left-anti join;
    the lineitem scan reads only the two join columns."""
    df = Q.queries()["tpch_q16"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "LeftAnti" in plan
    cols = read_schema_columns(df)
    li_scans = [c for c in cols if "l_partkey" in c]
    assert li_scans and all(
        "l_extendedprice" not in c and "l_shipdate" not in c for c in li_scans
    ), f"lineitem scan must prune to join keys: {li_scans}"


def test_tpch_q19_disjunctive_filter_pushdown(spark):
    """The OR-of-ANDs lands on the part scan as a pushed brand filter
    and the join stays a broadcast hash join."""
    df = Q.queries()["tpch_q19"](spark, SF)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 1
    assert c["sortmerge_joins"] == 0
    assert has_pushed_filter(df, "p_brand"), "brand IN-list must push down"


def test_tpch_q17_correlated_avg_is_broadcast(spark):
    """The correlated per-part average must not shuffle the fact table
    twice into sort-merge joins: both the brand-part semi join and the
    threshold join are broadcasts."""
    df = Q.queries()["tpch_q17"](spark, SF)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 2, c
    assert c["sortmerge_joins"] == 0, c


def test_doc_contamination_broadcasts_benchmark(spark):
    """The benchmark gram table travels broadcast so the 100 TB corpus
    side never shuffles for the join."""
    df = Q.queries()["doc_contamination"](spark, SF)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 1, c
    assert c["sortmerge_joins"] == 0, c


def test_connected_components_no_cartesian(spark):
    """Each CC round is equi-joins + min agg — the plan of the final
    labels must contain no cartesian/BNL join."""
    from mobilityduck_spark.operators import components as CC

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "src long, dst long"
    )
    # local_max_edges=0 pins the DISTRIBUTED loop (the default gate
    # would finish this bounded forest on the driver)
    out = CC.connected_components(edges, local_max_edges=0)
    plan = str(out._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan
    assert out.count() == 40
    pins.release()


def test_stratified_sample_broadcasts_flags_no_cartesian(spark):
    df = Q.queries()["doc_stratified_sample"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 1, "stratum flags must broadcast"
    assert c["sortmerge_joins"] == 0, f"rank path must not sort-merge join: {c}"


@pytest.mark.parametrize(
    "qname", ["doc_stratified_sample", "doc_mixture_sample"]
)
def test_samplers_have_no_full_stratum_window(spark, qname):
    """The exact rank must come from the two-level scheme: every
    row_number Window partitions by (stratum, _cb coarse bucket), never
    by the stratum alone — a full-stratum sort is one task per language
    at 100 TB. Also pins the scan-speed bucket prefilter: the plan
    filters on `bucket` BELOW the rank window."""
    df = Q.queries()[qname](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan
    win_lines = [
        ln for ln in plan.splitlines()
        if "row_number" in ln and "windowspecdefinition" in ln
    ]
    assert win_lines, "expected a row_number window in the rank path"
    for ln in win_lines:
        assert "_cb" in ln, f"full-stratum window partition: {ln}"
    # prefilter present: the margin cut on the raw bucket value shows up
    # either as a Filter or as the flags-join residual condition — both
    # run before the rank shuffle
    import re

    assert re.search(
        r"(Filter|BroadcastHashJoin).*(bucket#\d+ < |_keep#\d+ OR _deficient)",
        plan,
    ), "scan-speed bucket prefilter missing from plan"


def test_doc_dup_windows_partial_agg_join(spark):
    """Occurrence counts come from a groupBy (map-side PARTIAL count —
    the skew guard a count-over-window lacks) joined back on the 8-byte
    window hash; no cartesian, no window function in the count path."""
    df = Q.queries()["doc_dup_windows"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan, "count must pre-aggregate map-side"
    c = plan_counts(df)
    # wins hash + counts (reuses the hash partitioning) + doc_id agg
    # (+1 presentation orderBy)
    assert c["shuffles"] <= 4, f"unexpected extra shuffles: {c}"


def test_sq8_topk_broadcasts_queries(spark):
    emb = SRC.load(spark, SF, "embeddings")
    from mobilityduck_spark.operators import similarity as SIM

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    df = SIM.sq8_topk(emb, q, k=3)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 1, "query side must broadcast"
    assert c["sortmerge_joins"] == 0


def test_segment_relational_queries_broadcast_probe_dims(spark):
    """bm_q13 / bm_q13_poly / at_polygon_duration (round-4 relational
    reworks): the probe dims (periods×regions, polygon edge arrays) must
    broadcast — the flat segment side never shuffles into a sort-merge
    join — and no CartesianProduct appears."""
    for name in ("bm_q13", "bm_q13_poly", "at_polygon_duration"):
        df = Q.queries()[name](spark, SF)
        plan = str(df._jdf.queryExecution().executedPlan())
        assert "CartesianProduct" not in plan, name
        c = plan_counts(df)
        assert c["broadcast_joins"] >= 1, f"{name}: probe dim must broadcast"
        assert c["sortmerge_joins"] <= 1, f"{name}: {c}"  # licence join only
    pins.release(session=True)


def test_events_enrich_broadcasts_dim(spark):
    """Stream-static enrichment: the dim side must broadcast (under
    streaming it is re-resolved per micro-batch; the event side never
    shuffles for the join)."""
    df = Q.queries()["events_enrich"](spark, SF)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 1, c
    assert c["sortmerge_joins"] == 0, c
    assert c["cartesian"] == 0, c


def test_events_interval_pairs_no_cartesian(spark):
    """Interval self-join must plan as a (key, bucket) EQUI join with
    the time bound as a post-filter — never a cartesian product, and
    never a nested-loop fallback (which is how the quadratic
    key-only shape would sneak back in)."""
    df = Q.queries()["events_interval_pairs"](spark, SF)
    c = plan_counts(df)
    assert c["cartesian"] == 0, c
    assert c["bnl_joins"] == 0, c
    # the equi condition must survive as a hash-family join
    assert c["sortmerge_joins"] + (c["broadcast_joins"] - c["bnl_joins"]) >= 1, c


def test_classifier_vocab_broadcasts(spark):
    """Model inference must broadcast the vocabulary weight table —
    the doc side never shuffles for the join (only the per-doc agg)."""
    df = Q.queries()["doc_classifier_score"](spark, SF)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 1, c
    assert c["sortmerge_joins"] == 0, c


def test_rollup_is_single_scan_expand(spark):
    """ROLLUP must plan as ONE parquet scan fanned out through Expand —
    not one aggregation per hierarchy level."""
    from mobilityduck_spark.plans import formatted_plan

    df = Q.queries()["doc_rollup_stats"](spark, SF)
    plan = formatted_plan(df)
    assert "Expand" in plan, plan[:500]
    c = plan_counts(df)
    assert c["scans"] == 1, c


def test_round8_queries_no_cartesian(spark):
    """None of the round-8 operators may degrade to a nested-loop or
    cartesian plan — every candidate generation is an equi-join."""
    for name in [
        "dq_audit",
        "scd2_history",
        "gdpr_purge_audit",
        "events_attribution",
        "events_rfm",
        "doc_chunk_dedup",
        "graph_lpa_communities",
        "customer_entity_matches",
        "basket_part_pairs",
        "scd2_pit_join",
    ]:
        df = Q.queries()[name](spark, SF)
        plan = str(df._jdf.queryExecution().executedPlan())
        assert "CartesianProduct" not in plan, name
        # 1-row scalar anchors (counts, anchors) legitimately use BNLJ;
        # anything joining data rows must not
        if name not in ("events_rfm", "basket_part_pairs"):
            assert "BroadcastNestedLoop" not in plan, name


def test_purge_audit_broadcasts_tombstones(spark):
    df = Q.queries()["gdpr_purge_audit"](spark, SF)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 2, "tombstone marker join must broadcast"
    assert c["sortmerge_joins"] == 0


def test_chunk_dedup_two_keyed_shuffles(spark):
    from mobilityduck_spark.operators import text as TX

    docs = SRC.load(spark, SF, "documents").select("doc_id", "text")
    df = TX.chunk_dedup_rewrite(docs, 20)
    c = plan_counts(df)
    # hash-winner groupBy + doc reassembly groupBy (+ AQE reads); the
    # winners join may add one more exchange, never a sort-merge storm
    assert c["shuffles"] <= 4, f"chunk rewrite must stay shuffle-bounded: {c}"
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan


def test_rfm_ntile_has_no_unpartitioned_data_window(spark):
    """The scalable NTILE must not sort the per-user table in one task:
    every row_number window is partitioned by the coarse bucket; only
    the tiny histogram offset window is single-partition."""
    from mobilityduck_spark.operators import events as EV

    ev = SRC.load(spark, SF, "events")
    df = EV.rfm_scores(ev)
    plan = str(df._jdf.queryExecution().executedPlan())
    import re

    # every Window over the |users|-sized table must carry a partition
    # spec: row_number windows appear as windowspecdefinition(_cb#...,
    # ...); reject any windowspecdefinition that starts with the
    # order-only form over user-level columns (last_us/frequency/
    # monetary without a leading partition column)
    bad = re.findall(
        r"windowspecdefinition\((?:last_us|frequency|monetary_micro)#",
        plan,
    )
    assert not bad, f"unpartitioned data window found: {bad}"


def test_round9_queries_no_cartesian(spark):
    """Round-9 operators: no cartesian/nested-loop over data rows —
    1-row scalar anchors (global stats, midpoint bounds) legitimately
    use a broadcast nested loop; anything joining data rows must not."""
    for name in [
        "events_seasonal_outliers",
        "orders_key_skew",
        "events_incremental_rollup",
        "doc_rrf_fusion",
        "media_adpcm_stats",
        "doc_bpe_planted_merges",
    ]:
        df = Q.queries()[name](spark, SF)
        plan = str(df._jdf.queryExecution().executedPlan())
        assert "CartesianProduct" not in plan, name
        # doc_rrf_fusion inherits bm25's 1-row corpus-stats anchor
        # (a legitimate broadcast NL join); seasonal has no anchor
        if name == "events_seasonal_outliers":
            assert "BroadcastNestedLoop" not in plan, name


def test_key_skew_topn_is_take_ordered(spark):
    """The skew profiler's top-n must plan as TakeOrderedAndProject
    (per-partition partial top-n), never a global sort of the |keys|
    aggregate through one task."""
    df = Q.queries()["orders_key_skew"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "TakeOrderedAndProject" in plan


def test_seasonal_outliers_broadcasts_moments(spark):
    df = Q.queries()["events_seasonal_outliers"](spark, SF)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 1, "cell moments must broadcast back"
    assert c["sortmerge_joins"] == 0


def test_round9_session_queries_no_cartesian(spark):
    """The six session-9 additions: no cartesian/nested-loop over data
    rows. orders_cdc_apply and privacy_l_diversity are join-free;
    customer_snm_matches is window-only (the scalable SNM contract —
    no ranked self-join); basket_item_cosine's joins are all
    key equi-joins."""
    for name in [
        "media_phash_dups",
        "orders_cdc_apply",
        "doc_tfidf_keywords",
        "customer_snm_matches",
        "privacy_l_diversity",
        "basket_item_cosine",
    ]:
        df = Q.queries()[name](spark, SF)
        plan = str(df._jdf.queryExecution().executedPlan())
        assert "CartesianProduct" not in plan, name
        # basket_item_cosine carries the 1-row n_baskets anchor for the
        # scale-invariant relative threshold (same exemption as
        # basket_part_pairs in the r8 gate); data rows never BNLJ
        if name != "basket_item_cosine":
            assert "BroadcastNestedLoop" not in plan, name


def test_snm_plan_is_window_not_self_join(spark):
    """sorted_neighborhood_matches must plan as ONE window over one
    exchange — no join operator at all (the rank-self-join is the
    oracle's formulation, not the engine's)."""
    df = Q.queries()["customer_snm_matches"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "Window" in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan, j


def test_grouping_sets_single_scan_expand(spark):
    """GROUPING SETS must fold all four set aggregations into ONE scan
    through one Expand — never four reads of the table."""
    df = Q.queries()["events_grouping_sets"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert plan.count("Expand") >= 1
    assert plan.lower().count("events.parquet") <= plan.lower().count("parquet") and \
        plan.count("FileScan") == 1, "one scan feeds every grouping set"


def test_audio_dups_window_only(spark):
    df = Q.queries()["media_audio_dups"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_ivfpq_candidates_join_on_cell(spark):
    """IVF-PQ search must prune via a cell equi-join (hash join against
    the broadcast probe table) — the only nested-loop allowed is the
    16-row centroid routing anchor."""
    df = Q.queries()["embed_ivfpq_recall"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, "cell candidate join must be hash"


def test_r9b_queries_no_cartesian(spark):
    """Second round-9 session additions: no cartesian product over
    data rows. embed_binary_recall's only BNLJ is the 5-row broadcast
    query batch (the brute_force_topk exemption); graph_kcore and
    events_ab_cuped carry 1-row count/midpoint anchors."""
    for name in [
        "embed_binary_recall",
        "graph_kcore",
        "part_skyline",
        "events_acf",
        "events_ab_cuped",
    ]:
        df = Q.queries()[name](spark, SF)
        plan = str(df._jdf.queryExecution().executedPlan())
        assert "CartesianProduct" not in plan, name
        if name == "events_acf":
            assert "BroadcastNestedLoop" not in plan, name


def test_skyline_plan_is_windows_no_join(spark):
    """The two-phase skyline must plan as windows only — the
    quadratic NOT-EXISTS dominance anti-join is the oracle's
    formulation, never the engine's."""
    df = Q.queries()["part_skyline"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "Window" in plan
    for j in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
        "BroadcastNestedLoop",
    ):
        assert j not in plan, j


def test_binary_topk_stage1_reads_codes_not_vectors(spark):
    """The Hamming stage must not carry the float vectors: the
    candidate relation's schema is (query_id, vec_id, hamming) — the
    full-width embedding column only re-enters for the shortlist
    rerank via an id equi-join (BroadcastHashJoin or SMJ on vec_id)."""
    from mobilityduck_spark.operators import similarity as SIM
    from pyspark.sql import functions as F

    emb = SRC.load(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    df = SIM.binary_topk(emb, q, k=3, shortlist=8)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "bit_count" in plan, "Hamming must be a JVM bit_count expression"
    assert "CartesianProduct" not in plan


def test_r9c_queries_no_cartesian(spark):
    """Third round-9 session additions: the metric join never
    cartesians; compaction and WoE carry only 1-row total anchors."""
    for name in [
        "doc_retrieval_eval",
        "lineitem_compaction_plan",
        "events_woe_iv",
    ]:
        df = Q.queries()[name](spark, SF)
        plan = str(df._jdf.queryExecution().executedPlan())
        assert "CartesianProduct" not in plan, name


def test_bloom_semijoin_broadcasts_bitmap(spark):
    """The Bloom prefilter must plan as broadcast hash joins on the
    word index (one per hash) — never a shuffle of the fact side just
    to probe the bitmap."""
    df = Q.queries()["orders_bloom_semijoin"](spark, SF)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 2, f"bitmap probes must broadcast: {c}"
    assert c["sortmerge_joins"] == 0


def test_r9d_queries_no_cartesian(spark):
    """Survival + KMV: user-keyed aggregates and bounded-domain
    windows only; the only BNLJ is the 1-row cohort-total anchor."""
    for name in ["events_survival_curve", "events_kmv_distinct"]:
        df = Q.queries()[name](spark, SF)
        plan = str(df._jdf.queryExecution().executedPlan())
        assert "CartesianProduct" not in plan, name


def test_kmv_and_binary_shortlist_are_two_phase(spark):
    """The per-key top-k stages must plan as TWO window operators
    (salted local + bounded global) — a single per-key window funnels
    a key's whole volume through one partition at scale."""
    df = Q.queries()["events_kmv_distinct"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert plan.count("Window") >= 2, "kmv k-min must be two-phase"

    from mobilityduck_spark.operators import similarity as SIM

    emb = SRC.load(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    df2 = SIM.binary_topk(emb, q, k=3, shortlist=8)
    plan2 = str(df2._jdf.queryExecution().executedPlan())
    # local shortlist window + global shortlist window + rerank window
    assert plan2.count("Window") >= 3, "shortlist must be two-phase"


def test_multi_touch_join_is_horizon_banded(spark):
    """The conversions-touches PIT join must carry the horizon band in
    its equi-join keys: on a pure user-key join the candidate volume
    is quadratic per user once per-user history grows (measured 5.3e9
    candidates vs 2.4e7 real pairs at the sf10 sweep point). The band
    column appearing in a join condition — not only in a filter — is
    the structural property this pins."""
    df = Q.queries()["events_multi_touch"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert "hband" in plan, "banded join key missing from the plan"
    assert "CartesianProduct" not in plan


def test_weighted_strata_sample_is_two_phase(spark):
    """Per-stratum A-ES top-k must plan as TWO window operators
    (shard-local k + bounded global k) — one per-stratum window
    funnels a stratum's whole corpus through one partition at scale
    (same contract as the kmv two-phase gate)."""
    df = Q.queries()["doc_weighted_strata_sample"](spark, SF)
    plan = str(df._jdf.queryExecution().executedPlan())
    assert plan.count("Window") >= 2, "strata top-k must be two-phase"
    assert "CartesianProduct" not in plan
