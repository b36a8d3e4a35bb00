"""Corpus retrieval and language-model scoring operators.

Training-data pipelines need lightweight retrieval and LM-based quality
signals next to dedup/filtering: BM25 lookup of corpus documents against
probe queries (contamination auditing, eval-set mining), a smoothed
n-gram language model scored over every document (perplexity-style
quality filtering, the classic KenLM gate), PMI collocation mining
(boilerplate/template discovery), and weighted sampling (quality-
weighted corpus mixing). None of these exist in the reference engine
(it is a spatiotemporal engine); they extend the LLM-pipeline operator
set the brief requires, with full cross-engine oracles.

Cross-engine float determinism contract (same trick throughout this
repo): every per-row transcendental result is quantized to an exact
BIGINT micro-unit (round(x * 1e6)) BEFORE any aggregation, so sums are
exact integer arithmetic and independent of aggregation order. The only
residual engine dependence is a 1-ulp difference in ln() landing a
value exactly on a .5 micro-unit boundary (P ~ 1e-10 per value; inputs
are fixed per scale factor, so a green oracle stays green).

Scale shape (100 TB):
- bm25_topk: postings are semi-joined against the (broadcast) query
  term set BEFORE the tf shuffle, so the corpus-scale explode never
  shuffles — only query-term postings do. df/idf tables are O(|query
  terms|) and broadcast. Top-k per query is a window over the scored
  (query, doc) pairs, partitioned by query.
- bigram_lm_scores: two corpus-histogram shuffles (bigram counts,
  unigram counts) sized by the gram DOMAIN (vocab^2 bounded), then the
  per-occurrence score join is an equi-join on the gram key.
- pmi_bigrams: one bigram histogram; margins derive from the histogram
  itself (vocab-sized), never from a second corpus pass.
- weighted_sample: Efraimidis-Spirakis exponential race with
  engine-portable md5 uniforms; TakeOrderedAndProject (per-partition
  top-k, no global sort shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import text as TX


def _md5_uniform(key: Column, salt: str) -> Column:
    """Deterministic u in (0, 1): (md5_32bit + 0.5) / 2^32. The +0.5
    keeps u strictly positive so ln(u) is finite. Engine-portable
    (identical in DuckDB via CAST('0x'||substr(md5(..)) AS UBIGINT))."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(key.cast("string"), F.lit("-" + salt))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return (h + F.lit(0.5)) / F.lit(4294967296.0)


def _doc_tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", TX.tokens("text").alias("w")
    ).where(F.col("w").isNotNull())


def query_term_tf(
    docs: DataFrame,
    queries: list[tuple[str, str]],
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared substrate every lexical ranker here reads: (qterms,
    tf, stats) where qterms = (query_id, term), tf = (doc_id, dl,
    term, tf) over QUERY TERMS ONLY (one row per distinct (doc, term)
    — the corpus explode is broadcast-semi-joined on the query term
    set BEFORE the tf shuffle, so corpus-scale postings never
    shuffle), and stats = one row (n_docs, sum_dl).

    tf is not pinned: rankers that share it each re-run its subtree,
    which on local[N] overlaps across idle cores (a pin serialized it:
    2.5 s vs 2.0 s at sf0.1)."""
    spark = docs.sparkSession
    toks = _doc_tokens(docs).select("doc_id", "w", F.size("w").alias("dl"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    qdf = spark.createDataFrame(queries, "query_id string, qtext string")
    qterms = qdf.select(
        "query_id", F.explode(F.split("qtext", " ")).alias("term")
    ).distinct()
    terms = qterms.select("term").distinct()
    post = toks.select(
        "doc_id", "dl", F.explode("w").alias("term")
    ).join(F.broadcast(terms), "term")
    tf = post.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    return qterms, tf, stats


def bm25_rank_from_tf(
    qterms: DataFrame,
    tf: DataFrame,
    stats: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 scoring + per-query window top-k over a query_term_tf
    substrate (see bm25_topk for the model and determinism contract)."""
    from pyspark.sql import Window as W

    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tfd, dfd = F.col("tf").cast("double"), F.col("df").cast("double")
    dld = F.col("dl").cast("double")
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (dfd + F.lit(0.5))
    )
    tfn = (tfd * F.lit(k1 + 1.0)) / (
        tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dld / avgdl))
    )
    term_micro = F.round(idf * tfn * F.lit(1000000.0)).cast("long")

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", term_micro.alias("term_micro"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("term_micro").alias("score_micro"))
    )
    win = W.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "doc_id", "score_micro")
        .orderBy("query_id", "rnk")
    )


def overlap_rank_from_tf(
    qterms: DataFrame, tf: DataFrame, k: int = 10
) -> DataFrame:
    """Query-term-overlap ranking over a query_term_tf substrate: the
    tf relation already holds one row per distinct (doc, query term),
    so the overlap count is a plain (query, doc) aggregate over it —
    identical results to token_overlap_topk with no second corpus
    pass."""
    from pyspark.sql import Window as W

    ov = tf.join(F.broadcast(qterms), "term").groupBy(
        "query_id", "doc_id"
    ).agg(F.count(F.lit(1)).alias("overlap"))
    w = W.partitionBy("query_id").orderBy(
        F.desc("overlap"), F.asc("doc_id")
    )
    return (
        ov.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select(
            "query_id", "rnk", "doc_id",
            F.col("overlap").cast("bigint").alias("overlap"),
        )
    )


def qrels_from_tf(
    qterms: DataFrame, tf: DataFrame, min_overlap: int = 2
) -> DataFrame:
    """token_overlap_qrels over a query_term_tf substrate (same
    distinct-(doc, term) evidence, no second corpus pass): doc is
    relevant to query iff it contains >= min_overlap DISTINCT query
    terms. Returns (query_id, doc_id)."""
    return (
        tf.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("_ov"))
        .where(F.col("_ov") >= min_overlap)
        .select("query_id", "doc_id")
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k retrieval of corpus docs for a literal query set.

    Lucene idf form: ln(1 + (N - df + 0.5) / (df + 0.5)), tf norm
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)). Each (term, doc)
    contribution is quantized to micro-units; the doc score is the
    exact BIGINT sum. Returns (query_id, rnk, doc_id, score_micro),
    row_number-ranked per query (score desc, doc_id asc tiebreak).

    Plan: corpus explode -> broadcast semi-join on query terms (the
    corpus-volume reduction happens BEFORE any shuffle) -> tf groupBy
    on the surviving postings -> broadcast df/query/stat dims ->
    per-query window top-k.
    """
    qterms, tf, stats = query_term_tf(docs, queries)
    return bm25_rank_from_tf(qterms, tf, stats, k=k, k1=k1, b=b)


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Add-one-smoothed bigram LM trained on the corpus and scored over
    every document (the KenLM-style quality gate, exact-arithmetic
    form): lp(w1 w2) = ln((C(w1w2) + 1) / (C(w1) + V)), quantized to
    micro-units per bigram occurrence and summed exactly per doc.

    Returns (doc_id, n_bigrams, sum_lp_micro, avg_lp); docs with fewer
    than 2 tokens (incl. NULL text) have no bigrams and are absent, on
    both engines.

    Plan: one corpus pass builds the bigram histogram, whose LEFT margin
    (vocab-sized, derived from the histogram) would undercount final
    tokens — so unigram counts get their own corpus histogram; both are
    domain-sized (vocab, vocab^2). Scoring is an equi-join of exploded
    doc bigrams against the broadcast-or-shuffled count tables keyed by
    gram, then an exact integer groupBy per doc.
    """
    toks = _doc_tokens(docs)
    uni = toks.select(F.explode("w").alias("tok"))
    c1 = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    vocab = c1.agg(F.count(F.lit(1)).alias("vocab"))

    bg = toks.select(
        "doc_id", F.explode(TX.word_ngrams(F.col("w"), n=2)).alias("gram")
    )
    c12 = bg.groupBy("gram").agg(F.count(F.lit(1)).alias("c12"))

    lp = F.log(
        (F.col("c12").cast("double") + F.lit(1.0))
        / (F.col("c1") + F.col("vocab")).cast("double")
    )
    lp_micro = F.round(lp * F.lit(1000000.0)).cast("long")

    # score each DISTINCT gram once on the histogram (domain-sized
    # work: |bigram types|, not |occurrences|), so corpus occurrences
    # shuffle exactly once — on the gram key. Joining c1 against the
    # occurrence stream instead would re-shuffle the whole corpus by w1
    # (measured 5.2x at 10x data; 3.4x with the gram-side score table).
    gram_lp = (
        c12.withColumn("w1", F.split("gram", " ").getItem(0))
        .join(c1, F.col("w1") == F.col("tok"))
        .crossJoin(F.broadcast(vocab))
        .select("gram", lp_micro.alias("lp_micro"))
    )
    sc = bg.join(gram_lp, "gram").select("doc_id", "lp_micro")
    return (
        sc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").alias("sum_lp_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_lp_micro",
            F.round(
                F.col("sum_lp_micro").cast("double")
                / F.lit(1000000.0)
                / F.col("n_bigrams"),
                6,
            ).alias("avg_lp"),
        )
        .orderBy("doc_id")
    )


def pmi_bigrams(
    docs: DataFrame, min_count: int = 5, k: int = 40
) -> DataFrame:
    """Top-k collocations by pointwise mutual information over corpus
    bigram positions. PMI = ln(p(w1,w2) / (p_l(w1) * p_r(w2))) with all
    probabilities over the B bigram positions; since ln is monotone the
    ranking uses the EXACT rational ratio c12*B / (cl*cr) (margins cl,
    cr = bigram positions with that left/right word), avoiding the
    transcendental entirely. Returns (gram, cnt, pmi_ratio) with the
    ratio rounded to 6 places (one fixed-order IEEE mult/div chain —
    bit-deterministic across engines).

    Plan: one bigram histogram shuffle; margins and the total are
    GROUPed from the vocab^2-bounded histogram itself, broadcast back.
    """
    toks = _doc_tokens(docs)
    bg = toks.select(F.explode(TX.word_ngrams(F.col("w"), n=2)).alias("gram"))
    c12 = bg.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    c12 = c12.withColumn("w1", F.split("gram", " ").getItem(0)).withColumn(
        "w2", F.split("gram", " ").getItem(1)
    )
    cl = c12.groupBy("w1").agg(F.sum("cnt").alias("cl"))
    cr = c12.groupBy("w2").agg(F.sum("cnt").alias("cr"))
    tot = c12.agg(F.sum("cnt").alias("b_total"))

    ratio = (F.col("cnt").cast("double") * F.col("b_total").cast("double")) / (
        F.col("cl").cast("double") * F.col("cr").cast("double")
    )
    return (
        c12.where(F.col("cnt") >= min_count)
        .join(F.broadcast(cl), "w1")
        .join(F.broadcast(cr), "w2")
        .crossJoin(F.broadcast(tot))
        .select("gram", "cnt", F.round(ratio, 6).alias("pmi_ratio"))
        .orderBy(F.col("pmi_ratio").desc(), F.col("gram").asc())
        .limit(k)
    )


def weighted_sample(
    docs: DataFrame,
    k: int = 25,
    weight_col: str = "n_chars",
    salt: str = "ws1",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis exponential race): key = -ln(u) / w with u an md5-derived
    uniform; the k smallest keys are the sample, with inclusion
    probability proportional to weight. Deterministic, engine-portable,
    and stable under repartitioning — the quality-weighted corpus-mix
    primitive a 100 TB pipeline bakes into its manifest.

    Returns the chosen (doc_id, {weight_col}) ordered by doc_id. The
    top-k is TakeOrderedAndProject (per-partition heads, no global
    sort); two candidate keys land within an ulp of each other with
    probability ~k*ulp/gap ~ 1e-13, so the selected SET is engine-stable
    even though ln differs by up to 1 ulp.
    """
    u = _md5_uniform(F.col("doc_id"), salt)
    w = F.greatest(F.col(weight_col), F.lit(1)).cast("double")
    key = -F.log(u) / w
    return (
        docs.select("doc_id", weight_col, key.alias("_k"))
        .orderBy(F.col("_k").asc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", weight_col)
        .orderBy("doc_id")
    )


def textrank_keywords(
    docs: DataFrame,
    iterations: int = 3,
    k: int = 20,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """TextRank keyword extraction: PageRank over the symmetrized word
    co-occurrence (bigram) graph, exact-integer form.

    Ranks live in micro-units (r0 = 1_000_000 per node). One iteration:
        contrib(u->v) = (r(u) * w(u,v)) div W(u)      -- exact int div
        r'(v) = (den-num)*1e6/den + num * sum(contrib) div den
    with num/den = 85/100 (d = 0.85). Every step is BIGINT arithmetic
    (floor division on non-negative operands is identical on both
    engines), so an unrolled SQL oracle reproduces the ranks bit-for-
    bit — the standard trick this repo uses to make iterative
    algorithms hash-checkable.

    Scale: nodes and edges are HISTOGRAM-domain tables (vocab,
    vocab^2-bounded); each iteration is one rank-to-edge equi-join +
    groupBy — the classic distributed PageRank shape, linear in edges
    per iteration and independent of corpus row count after the one
    histogram pass. Returns the top-k (term, rank_micro), rank desc,
    term asc tiebreak.

    Magnitude bound: r*w fits BIGINT while max_rank * max_edge_weight
    < 2^63 — ranks stay ~1e6-1e8 and corpus-scale edge weights ~1e9,
    comfortably inside.
    """
    toks = _doc_tokens(docs)
    bg = toks.select(F.explode(TX.word_ngrams(F.col("w"), n=2)).alias("gram"))
    c12 = bg.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    half = c12.select(
        F.split("gram", " ").getItem(0).alias("src"),
        F.split("gram", " ").getItem(1).alias("dst"),
        "cnt",
    ).where(F.col("src") != F.col("dst"))
    # symmetrize, merging parallel edges (a b + b a) into one weight
    edges = (
        half.unionByName(
            half.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "cnt"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("cnt").alias("wt"))
    )
    outw = edges.groupBy("src").agg(F.sum("wt").alias("tot"))
    # the edge table is loop-invariant: without the lazy checkpoint
    # every iteration's lineage re-derives tokenize -> histogram ->
    # symmetrize from the corpus (measured 3x plan blowup at 3
    # iterations); with it each round joins a materialized vocab^2-
    # bounded table — the shape a cluster PageRank must have
    edges = edges.join(outw, "src").localCheckpoint(eager=False)

    base = F.lit(((damping_den - damping_num) * 1_000_000) // damping_den)
    ranks = edges.select(F.col("src").alias("term")).distinct().withColumn(
        "r", F.lit(1_000_000).cast("long")
    )
    for _ in range(iterations):
        contrib = edges.join(
            ranks, edges["src"] == ranks["term"]
        ).select(
            F.col("dst"),
            F.expr("(r * wt) div tot").alias("c"),
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("sc"))
            .select(
                F.col("dst").alias("term"),
                (
                    base
                    + F.expr(f"({damping_num} * sc) div {damping_den}")
                ).cast("long").alias("r"),
            )
        )
    return (
        ranks.select("term", F.col("r").alias("rank_micro"))
        .orderBy(F.col("rank_micro").desc(), F.col("term").asc())
        .limit(k)
    )


def token_overlap_topk(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
) -> DataFrame:
    """Exact query-term overlap ranking: per (query, doc), the count of
    DISTINCT query terms present in the doc's token set — the
    zero-parameter lexical ranker (set intersection, no tf/idf/length
    model) used as a second signal in rank fusion. Returns (query_id,
    rnk, doc_id, overlap), row_number-ranked per query (overlap desc,
    doc_id asc). Docs sharing no term don't rank.

    Plan: distinct (doc, term) postings broadcast-semi-join the query
    terms BEFORE any shuffle (corpus-volume reduction first, exactly
    like bm25_topk), one (query, doc) count aggregate, one per-query
    window over the surviving candidates."""
    from pyspark.sql import Window as W

    spark = docs.sparkSession
    qdf = spark.createDataFrame(queries, "query_id string, qtext string")
    qt = qdf.select(
        "query_id", F.explode(F.split("qtext", " ")).alias("term")
    ).distinct()
    # broadcast-semi-join on the query terms BEFORE the distinct: the
    # corpus-volume reduction must precede the (doc, term) dedup
    # shuffle, or the whole exploded corpus is shuffled to dedup
    # postings that are then discarded (distinct∘filter ≡
    # filter∘distinct on the surviving keys, so results are identical)
    toks = (
        _doc_tokens(docs)
        .select("doc_id", F.explode("w").alias("term"))
        .join(F.broadcast(qt.select("term").distinct()), "term", "semi")
        .distinct()
    )
    ov = toks.join(F.broadcast(qt), "term").groupBy(
        "query_id", "doc_id"
    ).agg(F.count(F.lit(1)).alias("overlap"))
    w = W.partitionBy("query_id").orderBy(
        F.desc("overlap"), F.asc("doc_id")
    )
    return (
        ov.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select(
            "query_id", "rnk", "doc_id",
            F.col("overlap").cast("bigint").alias("overlap"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    rrf_k: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of N rankings (each (query_id, doc_id,
    rnk)): score(d) = sum over lists of 1/(rrf_k + rank), the standard
    zero-tuning method for combining heterogeneous retrievers (lexical
    + semantic, or any mix). Contributions are exact integers
    (1000000 div (rrf_k + rnk)) so the fused score hashes identically
    on any engine; re-rank by (score desc, doc_id asc).

    Plan: each input is already top-k-bounded (|queries| x k rows), so
    the union + (query, doc) sum + per-query window all run on
    candidate-sized data — fusion adds no corpus-scale work."""
    from pyspark.sql import Window as W

    parts = [
        r.select(
            "query_id",
            "doc_id",
            F.expr(f"1000000 div ({rrf_k} + rnk)")
            .cast("bigint")
            .alias("c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    sc = u.groupBy("query_id", "doc_id").agg(
        F.sum("c").cast("bigint").alias("rrf_micro")
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("doc_id")
    )
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_k)
        .select("query_id", "rank", "doc_id", "rrf_micro")
        .orderBy("query_id", "rank")
    )


def tfidf_keywords(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document TF-IDF keyword extraction: top-k terms per doc by
    tf/df (ties broken lexically), with the reported score the exact
    rational tf * N / df — raw-ratio idf instead of log-idf so the
    hashed output never contains a transcendental (ln is monotone in
    the single-term case; the raw ratio is this engine's documented
    ranking rule). The per-term ordering key tf/df is ONE IEEE
    division, correctly rounded and bit-identical across engines.

    Plan: one corpus explode -> (doc, term) tf histogram; df derives
    from the tf table (vocab-sized, never a second corpus pass); the
    join back is an equi-join on the term key (AQE picks broadcast when
    the vocab fits); top-k is a window partitioned by doc_id —
    per-doc partitions, skew-free at any corpus size."""
    from pyspark.sql.window import Window

    toks = _doc_tokens(docs).select(
        "doc_id", F.explode("w").alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = _doc_tokens(docs).count()
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf").cast("double") / F.col("df")).desc(), F.col("term")
    )
    return (
        tf.join(df, "term")
        .select(
            "doc_id",
            F.row_number().over(w).cast("int").alias("rnk"),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round(
                F.col("tf").cast("double") * F.lit(float(n_docs))
                / F.col("df"),
                6,
            ).alias("tfidf"),
        )
        .where(F.col("rnk") <= k)
    )


def retrieval_eval(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Rank-quality readout of a retrieval run against a relevance
    set: per query, the total relevant count, how many relevant docs
    landed in the top-k (precision/recall numerators), and the rank
    of the first relevant hit (the MRR numerator's denominator) —
    all exact integers, no floating math at all, so the readout is
    bit-deterministic on any engine. `run` = (query_id, doc_id, rnk),
    `qrels` = (query_id, doc_id[, rel]); a query with no relevant doc
    in the run reports first_rel_rank NULL.

    Plan (100 TB): one equi-join of the candidate-sized run (|queries|
    x k rows) against qrels on (query_id, doc_id), one qrels-domain
    aggregate, one |queries|-sized merge — nothing here ever touches
    corpus-sized data; the expensive part is the run that produced the
    input, not the metric."""
    hits = run.join(
        qrels.select("query_id", "doc_id").withColumn(
            "_rel", F.lit(1)
        ),
        ["query_id", "doc_id"],
        "left",
    )
    per_run = hits.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("_rel").isNotNull() & (F.col("rnk") <= k), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias(f"n_rel_at_{k}"),
        F.min(F.when(F.col("_rel").isNotNull(), F.col("rnk")))
        .cast("bigint")
        .alias("first_rel_rank"),
    )
    totals = qrels.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rel_total")
    )
    return totals.join(per_run, "query_id", "left").select(
        "query_id",
        "n_rel_total",
        F.coalesce(F.col(f"n_rel_at_{k}"), F.lit(0).cast("bigint")).alias(
            f"n_rel_at_{k}"
        ),
        "first_rel_rank",
    ).orderBy("query_id")


def token_overlap_qrels(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    min_overlap: int = 2,
) -> DataFrame:
    """Derive a deterministic relevance set from token evidence: doc
    is relevant to query iff it contains >= min_overlap DISTINCT query
    terms. The standard pseudo-qrels construction for judging a
    ranker when no human labels exist. Returns (query_id, doc_id).

    Plan: distinct postings broadcast-semi-joined on the literal query
    terms (corpus reduction before any shuffle, same as bm25_topk),
    then one (query, doc)-keyed count."""
    spark = docs.sparkSession
    qdf = spark.createDataFrame(queries, "query_id string, qtext string")
    qt = qdf.select(
        "query_id", F.explode(F.split("qtext", " ")).alias("term")
    ).distinct()
    postings = (
        _doc_tokens(docs)
        .select("doc_id", F.explode("w").alias("term"))
        .join(F.broadcast(qt.select("term").distinct()), "term", "semi")
        .distinct()
    )
    return (
        postings.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("_ov"))
        .where(F.col("_ov") >= min_overlap)
        .select("query_id", "doc_id")
    )
