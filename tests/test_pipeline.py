"""Corpus curation pipeline: manifest invariants over the funnel stages
(every doc is either kept or carries exactly one drop stage; cluster
representatives keep, members drop; split labels partition the keeps)."""

import pyspark.sql.functions as F

from mobilityduck_spark import pins
from mobilityduck_spark.operators import dedup as DD
from mobilityduck_spark.operators import pipeline as PL
from mobilityduck_spark.sources import tables as SRC

SF = "/root/testdata/sf0.001"


def _curated(spark):
    docs = SRC.load(spark, SF, "documents").select("doc_id", "text", "lang")
    u = docs.union(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang")
    )
    manifest, funnel = PL.curate_corpus(u)
    m = manifest.collect()
    f = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    pins.release()
    return m, f


def test_manifest_partitions_and_funnel_consistency(spark):
    m, f = _curated(spark)
    # every doc appears exactly once
    assert len(m) == f["0_raw"] and len({r["id"] for r in m}) == len(m)
    # keep XOR drop_stage
    for r in m:
        assert r["keep"] == (r["drop_stage"] is None)
        if r["keep"]:
            assert r["split"] in ("train", "val", "test")
            assert r["cluster_id"] == r["id"]  # kept docs are cluster reps
        else:
            assert r["split"] is None
    # funnel counts reproduce from the manifest
    drops = {}
    for r in m:
        drops[r["drop_stage"]] = drops.get(r["drop_stage"], 0) + 1
    n_keep = drops.get(None, 0)
    assert n_keep == f["4_near_dup"]
    assert f["0_raw"] - drops.get("quality", 0) == f["1_quality"]
    assert f["1_quality"] - drops.get("language", 0) == f["2_language"]
    assert f["2_language"] - drops.get("exact_dup", 0) == f["3_exact_dedup"]
    assert f["3_exact_dedup"] - drops.get("near_dup", 0) == f["4_near_dup"]
    # splits partition the keep set
    split_total = sum(v for k, v in f.items() if k.startswith("5_split:"))
    assert split_total == n_keep
    # the funnel strictly shrinks where work exists: exact dedup must
    # drop the id-shifted copies
    assert f["3_exact_dedup"] <= f["2_language"] // 2 + 1


def test_near_dup_members_point_at_kept_rep(spark):
    m, _ = _curated(spark)
    by_id = {r["id"]: r for r in m}
    for r in m:
        if r["drop_stage"] == "near_dup":
            rep = by_id[r["cluster_id"]]
            assert rep["keep"] and rep["cluster_id"] == rep["id"]


def test_stratified_sample_prefilter_equivalence(spark):
    """The 100 TB scan-speed bucket prefilter must not change the kept
    set (margin 2× leaves every within-quota row below the cut)."""
    from mobilityduck_spark.operators import text as TX
    from mobilityduck_spark.sources import tables as SRC

    docs = SRC.load(spark, "/root/testdata/sf0.001", "documents")
    base = {
        (r["lang"], r["doc_id"], r["rk"])
        for r in TX.stratified_sample(docs, frac=0.1).select(
            "lang", "doc_id", "rk"
        ).collect()
    }
    pre = {
        (r["lang"], r["doc_id"], r["rk"])
        for r in TX.stratified_sample(
            docs, frac=0.1, prefilter_margin=2.0
        ).select("lang", "doc_id", "rk").collect()
    }
    assert base == pre and len(base) > 0


def test_mixture_sample_prefilter_equivalence(spark):
    """The per-stratum scan-speed cut min(1, margin·frac_s) must not
    change the kept set or the ranks (deficiency guard covers strata
    whose survivor count misses quota)."""
    from mobilityduck_spark.operators import text as TX
    from mobilityduck_spark.sources import tables as SRC

    docs = SRC.load(spark, "/root/testdata/sf0.001", "documents")
    fracs = {"en": 0.3, "de": 0.15, "fr": 0.05}
    base = {
        (r["lang"], r["doc_id"], r["rk"])
        for r in TX.mixture_sample(docs, fracs).select(
            "lang", "doc_id", "rk"
        ).collect()
    }
    pre = {
        (r["lang"], r["doc_id"], r["rk"])
        for r in TX.mixture_sample(
            docs.repartition(13), fracs, prefilter_margin=2.0
        ).select("lang", "doc_id", "rk").collect()
    }
    assert base == pre and len(base) > 0


def test_two_level_rank_matches_full_sort_rank(spark):
    """The histogram-offset + per-coarse-bucket rank must equal the
    plain full-stratum row_number rank exactly, including with a coarse
    bucket count small enough that every bucket holds many rows."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mobilityduck_spark.operators import text as TX

    rng = random.Random(11)
    rows = [
        (i, f"s{rng.randint(0, 3)}") for i in range(1500)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    got = {
        (r["lang"], r["doc_id"]): r["rk"]
        for r in TX.stratified_sample(
            df, frac=1.0, coarse_buckets=7
        ).collect()
    }
    w = Window.partitionBy("lang").orderBy(
        TX.split_bucket(F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    want = {
        (r["lang"], r["doc_id"]): r["rk"]
        for r in df.withColumn(
            "rk", F.row_number().over(w)
        ).collect()
    }
    assert got == want


def test_token_windows_edges(spark):
    from pyspark.sql import functions as F

    from mobilityduck_spark.operators import text as TX

    df = spark.createDataFrame(
        [("a b c d e",), ("x y",), ("", )], ["text"]
    ).select(TX.token_windows(TX.tokens("text"), w=2).alias("w"))
    got = [r["w"] for r in df.collect()]
    assert got[0] == ["a b", "c d"]  # trailing partial window dropped
    assert got[1] == ["x y"]
    assert got[2] == []


def test_duplicated_span_stats_planted(spark):
    from mobilityduck_spark.operators import text as TX

    rows = [
        # shares "v w x y z" and "a b c" with doc 2, separated by a
        # >k gap of unique fillers -> two maximal spans
        (1, "v w x y z T1 T2 T3 T4 a b c"),
        (2, "a b c q1 q2 q3 q4 v w x y z"),
        # within-doc repeat: the k-gram "m n o" occurs twice (gap == k
        # merges), so the whole doc is one duplicated span
        (3, "m n o m n o"),
        (4, "g h i j"),          # clean
        (5, "zz yy"),            # shorter than k -> no windows
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (
            r["total_tokens"], r["n_spans"], r["dup_tokens"], r["dup_frac"]
        )
        for r in TX.duplicated_span_stats(df, k=3, min_occ=2).collect()
    }
    assert got[1] == (12, 2, 8, round(8 / 12, 6))
    assert got[2] == (12, 2, 8, round(8 / 12, 6))
    assert got[3] == (6, 1, 6, 1.0)
    assert got[4] == (4, 0, 0, 0.0)
    assert got[5] == (2, 0, 0, 0.0)


def test_heavy_ngrams_exact_with_forced_trims(spark):
    """A tiny Misra-Gries capacity forces real decrement rounds across
    several partitions; the recount pass must still produce exactly the
    GROUP BY / HAVING answer (sketch superset + exact recount)."""
    import random

    from mobilityduck_spark.operators import text as TX

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    # skewed corpus: grams led by "hot hot" dominate
    rows = []
    for d in range(40):
        toks = ["hot", "hot"] * rng.randint(1, 6) + [
            rng.choice(vocab) for _ in range(rng.randint(5, 30))
        ]
        rng.shuffle(toks)
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(5)

    frac = 0.02
    got = [
        (r["gram"], r["cnt"])
        for r in TX.heavy_ngrams_exact(
            df, n=2, threshold_frac=frac, capacity=51  # > 1/frac, tiny
        ).collect()
    ]
    # exact reference via plain relational groupBy
    toks = df.select(TX.tokens("text").alias("_t"))
    grams = toks.select(F.explode(TX.word_ngrams("_t", 2)).alias("gram"))
    n_total = grams.count()
    import math

    thr = math.ceil(frac * n_total)
    want = [
        (r["gram"], r["count"])
        for r in grams.groupBy("gram")
        .count()
        .filter(F.col("count") >= thr)
        .orderBy(F.col("count").desc(), "gram")
        .collect()
    ]
    assert got == want and len(want) > 0


def test_mg_trim_bounds(spark):
    import pandas as pd

    from mobilityduck_spark.operators.text import _mg_trim

    counts = pd.Series({f"g{i}": i + 1 for i in range(10)})  # 1..10
    out = _mg_trim(counts, cap=3)
    # (cap+1)-th largest = 7 subtracted; only 8,9,10 survive
    assert out.to_dict() == {"g7": 1, "g8": 2, "g9": 3}
    assert len(out) <= 3


def test_stratified_sample_quota_property(spark):
    """Randomized property: for random strata sizes and fractions, every
    stratum keeps EXACTLY ceil(frac*n) rows, the kept set is identical
    with and without the prefilter, and is stable under repartitioning."""
    import math
    import random

    from pyspark.sql import functions as F

    from mobilityduck_spark.operators import text as TX

    rng = random.Random(7)
    rows = []
    sizes = {}
    for s in range(6):
        n = rng.randint(1, 400)
        sizes[f"s{s}"] = n
        for i in range(n):
            rows.append((s * 100000 + i, f"s{s}"))
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    for frac in (0.03, 0.27, 0.5):
        kept = (
            TX.stratified_sample(df, frac=frac)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("k"))
            .collect()
        )
        got = {r["lang"]: r["k"] for r in kept}
        want = {s: math.ceil(frac * n) for s, n in sizes.items()}
        assert got == want, (frac, got, want)
    base = {
        (r["lang"], r["doc_id"])
        for r in TX.stratified_sample(df, frac=0.27).collect()
    }
    pre = {
        (r["lang"], r["doc_id"])
        for r in TX.stratified_sample(
            df.repartition(13), frac=0.27, prefilter_margin=2.0
        ).collect()
    }
    assert base == pre


def test_simhash_bucket_cap_bounds_boilerplate(spark):
    """The bucket-size cap must drop degenerate boilerplate clusters
    (quadratic-bucket guard) while leaving genuine small near-dup pairs
    untouched — the behavior the 100 TB argument in dedup.py rests on."""
    from mobilityduck_spark.operators import dedup as DD

    boiler = [(i, "identical boilerplate page footer text " * 8) for i in range(40)]
    base = "a quick brown fox jumps over the lazy dog near the river bank " * 10
    near = [
        (100, base + "today"),
        (101, base + "again"),
    ]
    docs = spark.createDataFrame(boiler + near, ["doc_id", "text"])
    capped = DD.simhash128_pairs(docs, max_hamming=10, max_bucket_size=10)
    rows = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the 40-doc identical cluster (780 quadratic pairs) is dropped
    assert not any(a < 100 and b < 100 for a, b in rows)
    # the genuine near-dup pair survives (its buckets are size 2)
    assert (100, 101) in rows
    # uncapped, the quadratic cluster comes back
    full = DD.simhash128_pairs(docs, max_hamming=10, max_bucket_size=None)
    n_boiler = sum(
        1 for r in full.collect() if r["id_a"] < 100 and r["id_b"] < 100
    )
    assert n_boiler == 40 * 39 // 2


def test_simhash_planted_pair_recall(spark):
    """SimHash must recover every planted near-dup pair that the
    oracle-checked n-gram Jaccard query finds (recall gate; before the
    signed-vote fix the fingerprints were saturated all-ones and this
    held vacuously with ~72k false candidates — now it holds with ~24
    total pairs at sf0.01)."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.01"
    qs = entry_mod.queries()
    sim = {(r["id_a"], r["id_b"]) for r in qs["doc_simhash_pairs"](spark, sf).collect()}
    jac = {(r["id_a"], r["id_b"]) for r in qs["doc_ngram_jaccard"](spark, sf).collect()}
    assert jac, "expected planted near-dup pairs in the corpus"
    assert jac <= sim, f"simhash missed planted pairs: {sorted(jac - sim)}"
    # precision sanity: no quadratic blowup
    assert len(sim) < 100


def test_simhash_numpy_kernel_matches_jvm_expression(spark):
    """The numpy 128-bit fingerprint kernel's lane-0 word must equal the
    independent JVM-expression 64-bit simhash bit-for-bit on the whole
    test corpus (same seed-0 token hashing, same vote rule) — the
    strongest check available for a hash-seeded rows-only operator, and
    exactly the gate that would have caught the uint64 vote saturation."""
    from pyspark.sql import functions as F

    from mobilityduck_spark.operators import dedup as DD
    from mobilityduck_spark.operators import text as TX
    from mobilityduck_spark.sources import tables as SRC

    docs = SRC.load(spark, "/root/testdata/sf0.001", "documents")
    toks = TX.tokens(F.col("text"))
    fp = DD._fp128_udf("doc_id")
    df = docs.select(
        DD.simhash(F.col("text")).alias("expr64"),
        fp(
            F.transform(toks, lambda w: F.xxhash64(w)),
            F.transform(toks, lambda w: F.xxhash64(F.lit(1), w)),
        )[0].alias("np_w0"),
    )
    assert df.filter(F.col("expr64") != F.col("np_w0")).count() == 0


def test_pack_chunks_invariants(spark):
    """Concat-and-chunk packing: shard streams are gapless (offsets
    telescope), chunk spans follow from offsets, and a doc straddling a
    512-token cut spans both neighboring chunks."""
    from pyspark.sql import functions as F

    from mobilityduck_spark.operators import text as TX

    docs = spark.createDataFrame(
        [(i, "w " * (100 + i)) for i in range(40)], "doc_id long, text string"
    )
    out = TX.pack_chunks(docs, capacity=512, shards=4).orderBy(
        "shard", "doc_id"
    ).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert sum(len(v) for v in by_shard.values()) == 40
    for rows in by_shard.values():
        off = 0
        for r in rows:
            assert r["start_off"] == off, "shard stream must be gapless"
            assert r["chunk_first"] == r["start_off"] // 512
            assert r["chunk_last"] == (r["start_off"] + r["tok"] - 1) // 512
            off += r["tok"]
    straddlers = [r for r in out if r["chunk_last"] > r["chunk_first"]]
    assert straddlers, "with ~100-token docs some must straddle a cut"
    # the whitespace tokenizer counts '' as one token ([''] after split)
    # on BOTH engines, so an empty doc still occupies one stream slot —
    # only a genuinely 0-token doc would be dropped by the tok>0 guard
    docs2 = docs.union(
        spark.createDataFrame([(99, "")], "doc_id long, text string")
    )
    assert TX.pack_chunks(docs2, capacity=512, shards=4).count() == 41


def test_linear_classifier_score_semantics(spark):
    """Bag-of-words semantics: repeated tokens count per occurrence;
    zero-hit docs get the bias-only logit; sigmoid is monotone in z."""
    import math

    from mobilityduck_spark.operators.text import linear_classifier_score

    docs = spark.createDataFrame(
        [(1, "the the and junk"), (2, "xyzzy qwerty"), (3, "lorem ipsum the")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in linear_classifier_score(
            docs, {"the": 0.5, "lorem": -1.0, "ipsum": -1.0}, bias=0.25
        ).collect()
    }
    assert out[1]["n_hits"] == 2 and abs(out[1]["logit"] - 1.25) < 1e-12
    assert out[2]["n_hits"] == 0 and abs(out[2]["logit"] - 0.25) < 1e-12
    assert out[3]["n_hits"] == 3 and abs(out[3]["logit"] - (-1.25)) < 1e-12
    for r in out.values():
        assert abs(r["score"] - 1.0 / (1.0 + math.exp(-r["logit"]))) < 1e-12


def test_linear_classifier_total_coverage_null_text(spark):
    """explode_outer keeps NULL-text documents: every input id appears
    in the output with the bias-only logit (n_hits=0) — |out| == |in|."""
    from mobilityduck_spark.operators.text import linear_classifier_score

    docs = spark.createDataFrame(
        [(1, "the cat"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in linear_classifier_score(
            docs, {"the": 0.5}, bias=0.25
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[2]["n_hits"] == 0 and abs(out[2]["logit"] - 0.25) < 1e-12
    assert out[3]["n_hits"] == 0 and abs(out[3]["logit"] - 0.25) < 1e-12


def test_hll_reach_within_10pct_on_fixed_shape(spark):
    """Empirical sketch-accuracy bound on the FIXED test data shape:
    approx_count_distinct(rsd=0.05) lands within 10% of exact for every
    event_type at sf0.001. The driver oracle asserts only the scale-safe
    20% (4 sigma) bound; this test keeps the tighter claim where the
    data is pinned."""
    ev = SRC.load(spark, SF, "events")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("approx"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= 0.1 * r["exact"], (
            r["event_type"], r["exact"], r["approx"],
        )


def test_full_funnel_stage_invariants(spark):
    """Production-shape funnel (decontam + mixture + pack): counts are
    monotone through the drop stages, mixture quotas are exact per
    stratum, splits partition the mixture keeps, and the packed-chunk
    count equals sum-over-shards ceil(shard_tokens/capacity)."""
    import math

    docs = SRC.load(spark, SF, "documents").select("doc_id", "text", "lang")
    u = docs.union(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang")
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    manifest, funnel = PL.curate_corpus(
        u,
        bench_docs=bench,
        mixture_fracs={"en": 0.5, "de": 0.3, "fr": 0.2},
        pack_capacity=512,
    )
    f = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    m = manifest.collect()
    pins.release()
    assert f["4_near_dup"] >= f["5_decontam"] >= f["6_mixture"]
    # mixture quota exactness: per-lang kept == ceil(frac * decontam_n)
    drops = {}
    for r in m:
        drops[r["drop_stage"]] = drops.get(r["drop_stage"], 0) + 1
    assert drops.get("contaminated", 0) == f["4_near_dup"] - f["5_decontam"]
    assert drops.get("mixture", 0) == f["5_decontam"] - f["6_mixture"]
    split_total = sum(v for k, v in f.items() if k.startswith("7_split:"))
    assert split_total == f["6_mixture"] == drops.get(None, 0)
    assert f["8_pack_chunks"] >= 1
    # every manifest row still keep XOR drop
    for r in m:
        assert r["keep"] == (r["drop_stage"] is None)
