"""Deduplication operators for training-data pipelines.

Four tiers, in increasing fuzziness:
- exact: md5 fingerprint groupBy (one shuffle on the hash — even key
  distribution by construction);
- n-gram Jaccard: exact set similarity over df-capped exploded grams
  within cheap blocking keys;
- MinHash + LSH: shingles → minhash signature → band buckets →
  candidate pairs via equi-join on (band, key) — the web-scale
  path: no pairwise blowup, shuffle keys are bucket hashes;
- SimHash: 128-bit bit-vote fingerprint, near-dups = small Hamming
  distance within LSH-style chunk buckets.

The MinHash and SimHash families build a keyed relation and hand the
band self-join, verify and dedup to operators/lsh.py. Hashes are JVM
built-ins (xxhash64/md5); the signature and fingerprint kernels are
numpy pandas UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import lsh as LSH
from . import text as TX
from ..functions.span import _c
from ..pins import pin


# ---------------------------------------------------------------- exact
def exact_dups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents: fingerprint,
    group size, representative (min id). One hash-partitioned shuffle."""
    fp = docs.select(
        F.col(id_col), TX.fingerprint(F.col(text_col)).alias("fp")
    )
    return fp.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min(id_col).alias("keep_id"),
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative per fingerprint (min id wins)."""
    w = Window.partitionBy(TX.fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------- minhash
def _spread(df: DataFrame) -> DataFrame:
    """Ensure at least defaultParallelism partitions before a
    compute-heavy per-row stage. A small single-row-group parquet file
    arrives as ONE partition and serializes the whole stage onto one
    core; at corpus scale inputs already have >> cores partitions and
    this is a no-op (no shuffle inserted). The count is the physical
    plan's, read JVM-side (`df.rdd` would also wrap that RDD in a
    Python one). Callers pass scans, so planning runs no stage."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df._jdf.queryExecution().toRdd().getNumPartitions() < target:
        return df.repartition(target)
    return df


def minhash_lane_constants() -> tuple[np.ndarray, np.ndarray]:
    """The (a_i, b_i) universal-hash lane constants shared by the numpy
    signature kernel AND the generated DuckDB oracle SQL (the oracle
    embeds them as HUGEINT literals, so both engines compute the exact
    same wrapping-uint64 lanes). Deterministic: rng(42), 64 lanes."""
    rng = np.random.default_rng(42)
    A = (
        rng.integers(1, 2**63 - 1, size=64, dtype=np.uint64) * np.uint64(2)
        + np.uint64(1)
    )
    B = rng.integers(0, 2**63 - 1, size=64, dtype=np.uint64)
    return A, B


def minhash_signature_numpy_udf():
    """Pandas UDF: shingle-hash array → minhash signature via a numpy
    universal-hash family (lane_i(h) = a_i·h + b_i over uint64, wrapping
    arithmetic). ~10× the interpreted zip_with fold at sf0.1: the 32-lane
    min runs as one (shingles × lanes) vectorized matrix op per doc."""
    from pyspark.sql import types as T_

    A, B = minhash_lane_constants()

    @F.pandas_udf(T_.ArrayType(T_.LongType()))
    def sig(shingles: pd.Series, num_hashes: pd.Series) -> pd.Series:
        out = []
        for sh, nh in zip(shingles, num_hashes):
            nh = int(nh)
            if sh is None or len(sh) == 0:
                out.append([0] * nh)
                continue
            h = np.asarray(sh, dtype=np.int64).astype(np.uint64)
            with np.errstate(over="ignore"):
                lanes = h[:, None] * A[None, :nh] + B[None, :nh]
            out.append(lanes.min(axis=0).astype(np.int64).tolist())
        return pd.Series(out, dtype="object")

    return sig


def _banded_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingles,
    band_hash,
) -> DataFrame:
    """Shared head of the MinHash pipelines: tokens → shingle hashes
    (`shingles(tokens)`, JVM-side) → numpy-vectorized minhash signature
    → one (id, sig, band, key) row per band, key = `band_hash(lanes)`
    over the band's num_hashes/bands signature lanes: SQL text in, SQL
    text out, so each band key is one parsed expression, not several
    py4j round trips per lane. Select barriers
    keep each expensive column evaluated once (the interpreted fold
    costs ~8s at sf0.1, the numpy kernel <1s)."""
    rows = num_hashes // bands
    shingled = _spread(docs).select(
        F.col(id_col).alias("id"),
        TX.tokens(F.col(text_col)).alias("_toks"),
    ).select("id", shingles(F.col("_toks")).alias("sh"))
    sig_udf = minhash_signature_numpy_udf()
    sig = shingled.select(
        "id",
        sig_udf(F.col("sh"), F.lit(num_hashes)).alias("sig"),
    )
    return LSH.band_rows(sig, [
        F.expr(band_hash([f"element_at(sig, {b * rows + r + 1})" for r in range(rows)]))
        for b in range(bands)
    ])


def minhash_band_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """The banded MinHash signatures of `docs`: (id, sig, band, key),
    one row per (doc, band), xxhash64 shingle and band hashes. As the
    prior snapshot's materialized LSH index, a deployment writes this
    once per snapshot — bucketed by (band, key), see sources.tables.
    write_bucketed — so every subsequent ingest batch band-joins it
    without reshuffling the snapshot (the near-dup analog of the
    exact-fp index in incremental_dedup)."""
    return _banded_signatures(
        docs, id_col, text_col, num_hashes, bands,
        lambda toks: TX.rolling_hash_shingles_from_tokens(toks, k=shingle_k),
        lambda lanes: f"xxhash64({', '.join(lanes)})",
    )


def incremental_near_dups(
    new_docs: DataFrame,
    prior_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Incremental near-duplicate detection: band-join TODAY'S batch
    against the PRIOR snapshot's LSH index (minhash_band_index) instead
    of self-joining the whole corpus — the steady-state shape where the
    100 TB snapshot is already indexed and only the ingest batch
    computes signatures. Returns (new_id, prior_id, est_jaccard ≥
    threshold); estimated Jaccard is the matched-lane fraction of the
    two signatures, identical to the batch operator's estimator.

    Candidates dedupe on the pair key (a pair colliding in several
    bands is emitted once); the join keys are (band, key) — the same
    well-distributed buckets as the batch path, so skew follows content
    duplication exactly as there. The only band join that is not a
    self-join; verify runs map-side as in lsh.band_pairs."""
    banded_new = minhash_band_index(
        new_docs, id_col, text_col, num_hashes, bands, shingle_k
    )
    prior = prior_index.select(
        *[F.col(c).alias(f"{c}_p") for c in ("id", "sig", "band", "key")]
    )
    cand = banded_new.join(
        prior,
        (F.col("band") == F.col("band_p")) & (F.col("key") == F.col("key_p")),
    )
    est = LSH.matched_lanes(F.col("sig"), F.col("sig_p")) / F.lit(num_hashes)
    return (
        cand.select(
            F.col("id").alias("new_id"),
            F.col("id_p").alias("prior_id"),
            F.round(est, 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    signature → `bands` bands of num_hashes/bands rows; band hash =
    xxhash64 of the band slice; candidates = pairs sharing ≥1 band
    bucket (lsh.band_pairs); estimated Jaccard = fraction of equal
    signature positions. One equi-join shuffle on (band, key) — the
    plan that scales to billions of docs.
    """
    keyed = minhash_band_index(
        docs, id_col, text_col, num_hashes, bands, shingle_k
    )
    est = LSH.matched_lanes(F.col("sig"), F.col("sig_b")) / F.lit(num_hashes)
    return LSH.band_pairs(
        keyed,
        F.round(est, 6).alias("est_jaccard"),
        F.col("est_jaccard") >= min_est_jaccard,
    )


# ---------------------------------------------------------------- jaccard
def ngram_set_from_tokens(toks, n: int = 3) -> Column:
    """Distinct word-n-gram hash set from an ALREADY-MATERIALIZED token
    array column. Callers should project `tokens(text)` in its own
    select first: referencing the tokenize subtree inside the
    per-element lambda re-evaluates it per gram (interpreted HOF, no
    CSE) — O(tokens²) per doc, measured 5 s for 5 k docs at sf0.1."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1)))
    return F.array_distinct(
        F.transform(
            idx, lambda i: F.xxhash64(F.array_join(F.slice(toks, i, n), " "))
        )
    )


def ngram_jaccard_pairs_exploded(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_cols: tuple[str, ...] = ("lang",),
    max_gram_df: int | None = None,
) -> DataFrame:
    """Scalable exact n-gram Jaccard: explode grams → equi-join on
    (block, gram) → count shared grams per pair → |A∩B| / (|A|+|B|−|A∩B|).

    Instead of an interpreted array_intersect per blocked candidate
    pair (quadratic in block size, measured 22s at sf0.1), the
    intersection is a plain shuffled hash join on gram hash — partitions
    by gram, no per-row array scans, and survives block-size skew at
    100 TB.

    `max_gram_df` drops stop-grams (document frequency above the cap
    within a block) BEFORE the self-join — without it, one gram shared
    by f docs produces f² join rows, and a corpus-wide stop-gram at
    10⁹ docs is a quadratic bucket that no amount of partitioning saves.
    Jaccard is then computed over the df-filtered gram universe on both
    sides of the ratio (the standard DF-filter semantics: similarity on
    content-bearing grams only).
    """
    pre = _exploded_gram_table(
        docs, id_col, text_col, n, block_cols, max_gram_df
    )
    # both self-join sides read the (filtered) gram table; materialize
    # the tokenize+shingle+df-cap pipeline exactly once
    from pyspark import StorageLevel

    pre = pin(pre, level=StorageLevel.MEMORY_AND_DISK)
    inter = _gram_pair_intersections(pre, block_cols)
    jac = F.col("inter") / (
        F.col("n_grams") + F.col("n_grams_b") - F.col("inter")
    )
    return (
        inter.select(
            F.col("id").alias("id_a"),
            F.col("id_b"),
            F.round(jac, 6).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


def _exploded_gram_table(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    block_cols: tuple[str, ...],
    max_gram_df: int | None,
) -> DataFrame:
    """Shared head of the exploded-gram pipelines: tokenize → distinct
    n-gram sets → explode → optional df-cap, yielding the (block, id,
    n_grams, gram) table both the Jaccard pair op and the similarity
    histogram self-join on.

    Staged selects are deliberate barriers (CollapseProject keeps them:
    each heavy column is referenced >1× downstream); explode_outer, not
    explode — InferFiltersFromGenerate would add `size(grams) > 0` and
    push the whole tokenize+shingle subtree down below the repartition
    (re-evaluated on the raw scan; measured 3 s at sf0.1). Gram arrays
    are never empty (sequence floor of 1), so outer ≡ inner here."""
    pre = _spread(docs).select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id"),
        TX.tokens(F.col(text_col)).alias("_toks"),
    ).select(
        *block_cols, "id",
        ngram_set_from_tokens(F.col("_toks"), n).alias("grams"),
    ).select(
        *block_cols, "id", F.size("grams").alias("n_grams"), "grams"
    ).select(
        *block_cols, "id", "n_grams",
        F.explode_outer("grams").alias("gram"),
    )
    if max_gram_df is not None:
        # gram df per block → keep rare grams only; recount per-doc gram
        # cardinality over the filtered universe so the Jaccard
        # denominator matches the numerator's gram space. Window counts
        # keep the lineage LINEAR (a groupBy+join-back formulation reads
        # the gram table 3×); both shuffles hash-partition on
        # bounded-skew keys (gram, id).
        wg = Window.partitionBy(*block_cols, "gram")
        # include block cols: the API only requires id uniqueness per
        # block, so a bare id partition could conflate blocks
        wi = Window.partitionBy(*block_cols, "id")
        pre = (
            pre.drop("n_grams")
            .withColumn("_df", F.count(F.lit(1)).over(wg))
            .filter(F.col("_df") <= max_gram_df)
            .drop("_df")
            .withColumn("n_grams", F.count(F.lit(1)).over(wi))
            .select(*block_cols, "id", "n_grams", "gram")
        )
    return pre


def _gram_pair_intersections(
    pre: DataFrame, block_cols: tuple[str, ...]
) -> DataFrame:
    """Shared tail of the exploded-gram pipelines: self-join the
    (block, id, n_grams, gram) table on (block, gram) with id < id_b
    and count shared grams per pair. Returns (id, id_b, n_grams,
    n_grams_b, inter) — exact integers, from which any set-similarity
    (Jaccard, overlap, containment) derives without re-reading grams."""
    a = pre
    b = pre.select(
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("id").alias("id_b"),
        F.col("n_grams").alias("n_grams_b"),
        F.col("gram").alias("gram_b"),
    )
    cond = (
        [a[c] == b[f"{c}_b"] for c in block_cols]
        + [a["id"] < b["id_b"], a["gram"] == b["gram_b"]]
    )
    return (
        a.join(b, cond)
        .groupBy("id", "id_b", "n_grams", "n_grams_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def ngram_jaccard_histogram(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    block_cols: tuple[str, ...] = ("lang",),
    max_gram_df: int | None = None,
    bins: int = 10,
) -> DataFrame:
    """Similarity-threshold tuning curve: the distribution of exact
    n-gram Jaccard over every candidate pair (pairs sharing ≥1 df-kept
    gram within a block), bucketed into `bins` equal-width bins — the
    histogram a pipeline inspects BEFORE committing to a dedup
    threshold (a bimodal curve separates true near-dups from topical
    overlap; a flat one says the threshold will be arbitrary).

    Buckets are computed by exact integer division (bins * inter) div
    union — no floating-point enters the grouping key, so the counts
    are bit-identical on any engine. Same scale shape as the exploded
    Jaccard op it shares its pipeline with: df-capped gram equi-join,
    one aggregate over pairs, then a |bins|-row rollup.
    """
    from pyspark import StorageLevel

    pre = _exploded_gram_table(docs, id_col, text_col, n, block_cols,
                               max_gram_df)
    pre = pin(pre, level=StorageLevel.MEMORY_AND_DISK)
    inter = _gram_pair_intersections(pre, block_cols)
    bucket = F.expr(
        f"least(({bins} * inter) div (n_grams + n_grams_b - inter), "
        f"{bins - 1})"
    ).cast("int")
    return (
        inter.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------- simhash
def simhash(text, hashbits: int = 64) -> Column:
    """64-bit SimHash: per token hash, vote +1/-1 per bit, sign →
    fingerprint bit. Expression-only via bit arithmetic over an
    aggregate of per-bit counters; the reference the numpy kernel
    (_fp128_udf) is tested against."""
    toks = TX.tokens(text)
    hashes = F.transform(toks, lambda w: F.xxhash64(w))
    # votes[b] = Σ tokens (bit b set ? 1 : -1); bit b of result = votes[b] > 0
    bit_cols = []
    for b in range(hashbits):
        def _bit_set(bb):
            return lambda h: F.shiftright(h, bb).bitwiseAND(F.lit(1)) == 1

        ones = F.size(F.filter(hashes, _bit_set(b)))
        votes = ones * 2 - F.size(hashes)
        bit_cols.append(F.when(votes > 0, F.lit(1).cast("long")).otherwise(F.lit(0)))
    out = F.lit(0).cast("long")
    for b, bit in enumerate(bit_cols):
        out = out.bitwiseOR(F.shiftleft(bit, b))
    return out


# 128-bit chunk boundaries: 6 chunks of 21–22 bits, aligned so no chunk
# spans the word0/word1 boundary at bit 64 (i*128//6 hits 64 exactly).
_SH128_BOUNDS = [i * 128 // 6 for i in range(7)]  # [0,21,42,64,85,106,128]


def _fp128_udf(id_col: str):
    """Pandas UDF: two seeded token-hash arrays → 128-bit SimHash as
    ARRAY<LONG>[w0, w1]. Tokens are hashed JVM-side (xxhash64); the
    kernel only does the bit-vote matrix sum — no Python hashing in the
    row path (the old md5-per-token version cost 12 s at sf0.1)."""
    from pyspark.sql import types as T_

    lanes = np.arange(64, dtype=np.uint64)

    def word(hs_list) -> int:
        hs = np.asarray(hs_list, dtype=np.int64).astype(np.uint64)
        # vote in SIGNED space: a uint64 `bits.sum(0)*2 - len` wraps to
        # a huge positive for minority bits, which silently saturates
        # every fingerprint to all-ones (one giant bucket, hamming 0
        # everywhere — caught by the bucket-cap unit test)
        bits = ((hs[:, None] >> lanes) & np.uint64(1)).astype(np.int64)
        votes = bits.sum(0, dtype=np.int64) * 2 - len(hs)
        w = ((votes > 0).astype(np.uint64) << lanes).sum(dtype=np.uint64)
        # view-reinterpret: numpy>=2.0 raises OverflowError on
        # int(np.int64(uint64_val >= 2**63)); .view is version-stable
        return int(np.uint64(w).view(np.int64))

    @F.pandas_udf(T_.ArrayType(T_.LongType()))
    def fp(h0: pd.Series, h1: pd.Series) -> pd.Series:
        out = []
        for a, b in zip(h0, h1):
            if a is None or len(a) == 0:
                out.append([0, 0])
                continue
            out.append([word(a), word(b)])
        return pd.Series(out, dtype="object")

    return fp


def _chunk_key(word0, word1, c: int):
    """Extract chunk c ([start, end) bit range of the 128-bit fp) as a
    bucket key — pure JVM bit arithmetic."""
    s, e = _SH128_BOUNDS[c], _SH128_BOUNDS[c + 1]
    mask = (1 << (e - s)) - 1
    src, off = (word0, s) if e <= 64 else (word1, s - 64)
    return F.shiftrightunsigned(src, off).bitwiseAND(F.lit(mask))


def _simhash_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    token_hashes,
    chunk_keys,
    max_hamming: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Shared body of the 128-bit SimHash twins: the two per-token hash
    lanes `token_hashes` vote into fingerprint words (w0, w1) in
    _fp128_udf, `chunk_keys(w0, w1)` gives the six chunk bucket keys,
    buckets above `max_bucket_size` are dropped, and candidates are
    verified by exact Hamming distance."""
    toks = TX.tokens(F.col(text_col))
    h0, h1 = (F.transform(toks, h) for h in token_hashes)
    fp = _fp128_udf(id_col)
    sh = _spread(docs).select(F.col(id_col).alias("id"), fp(h0, h1).alias("fp")).select(
        "id", F.col("fp")[0].alias("w0"), F.col("fp")[1].alias("w1")
    )
    keyed = LSH.cap_buckets(
        LSH.band_rows(sh, chunk_keys(F.col("w0"), F.col("w1"))), max_bucket_size
    )
    ham = (
        F.bit_count(F.col("w0").bitwiseXOR(F.col("w0_b")))
        + F.bit_count(F.col("w1").bitwiseXOR(F.col("w1_b")))
    )
    return LSH.band_pairs(
        keyed, ham.cast("int").alias("hamming"), F.col("hamming") <= max_hamming
    )


def simhash128_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 10,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs over a 128-bit fingerprint (two 64-bit
    lanes from independently-seeded xxhash64 token hashes).

    Scale shape: candidates share one of six ~21-bit fingerprint chunks
    → up to 2²¹ ≈ 2M buckets per chunk (vs 65k for 16-bit chunks of a
    64-bit fp, which made candidate pairs grow O(N²/65k) past ~10⁸
    docs). Pigeonhole guarantees recall for hamming ≤ 5; pairs at
    hamming 6..max_hamming are found when any chunk survives intact
    (high probability for near-dups, documented approximation).

    `max_bucket_size` drops degenerate buckets (boilerplate clusters)
    before the self-join — the bucket-size analog of the n-gram df-cap,
    the standard guard against quadratic buckets at corpus scale.
    """
    return _simhash_pairs(
        docs, id_col, text_col,
        (lambda w: F.xxhash64(w), lambda w: F.xxhash64(F.lit(1), w)),
        lambda w0, w1: [_chunk_key(w0, w1, c) for c in range(6)],
        max_hamming, max_bucket_size,
    )


# ------------------------------------------------------- edit distance
def fuzzy_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_len: int = 16,
    cmp_len: int = 64,
    max_dist: int = 10,
    max_block: int = 1000,
) -> DataFrame:
    """Edit-distance near-duplicate pairs under prefix blocking.

    Candidate pairs share their first `block_len` normalized chars (the
    blocking key — an equi-join, never all-pairs); a pair survives if
    the Levenshtein distance between the first `cmp_len` chars is at
    most `max_dist`. Returns (id_a, id_b, dist) with id_a < id_b.

    levenshtein() is a JVM built-in on both engines (identical standard
    definition), so the distances hash exactly. Blocks larger than
    `max_block` docs are dropped BEFORE the self-join — the prefix
    analog of the n-gram df-cap: a boilerplate prefix shared by 1M docs
    would otherwise create a 10^12-pair bucket at 100 TB. cmp_len bounds
    the O(n*m) distance kernel per pair.
    """
    dd = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.lower(F.col(text_col)).alias("t"),
    )
    dd = dd.withColumn("bkey", F.substring("t", 1, block_len)).withColumn(
        "head", F.substring("t", 1, cmp_len)
    )
    sizes = dd.groupBy("bkey").agg(F.count(F.lit(1)).alias("bn"))
    dd = dd.join(sizes, "bkey").where(F.col("bn") <= max_block)
    a = dd.select("bkey", F.col("id").alias("id_a"), F.col("head").alias("ha"))
    b = dd.select("bkey", F.col("id").alias("id_b"), F.col("head").alias("hb"))
    return (
        a.join(b, "bkey")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("ha", "hb").cast("int").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
        .orderBy("id_a", "id_b")
    )


def incremental_dedup(
    new_docs: DataFrame,
    prior_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prior_is_index: bool = False,
) -> DataFrame:
    """Incremental-ingestion dedup: classify each NEW document against
    a PRIOR corpus snapshot — the steady-state shape of a production
    pipeline, where yesterday's 100 TB is already deduplicated and only
    today's batch needs work. Returns one row per new doc:
    (doc_id, fp, reason) with reason ∈ {'dup_of_prior', 'dup_in_batch',
    'kept'} — dup_of_prior wins when both apply (the prior copy is the
    canonical one); within the batch the smallest id is kept.

    Plan shape at scale: the prior side reduces to DISTINCT
    fingerprints (|unique priors|, not |prior rows|) before a LEFT SEMI
    membership join keyed on fp; the within-batch rule is one
    fp-partitioned min window over the (small) new batch. No corpus
    re-scan of the prior snapshot beyond its fp index — which a real
    deployment materializes once as a bucketed-by-fp table so the
    membership join is shuffle-free on ingest after ingest. Near-dup
    incremental checks compose the same way (minhash_lsh_pairs against
    a prior band index); exact-fp is the first stage every pipeline
    runs.

    `prior_is_index=True` declares that prior_docs IS the materialized
    fp index (a single distinct `fp` column — e.g. a table bucketed by
    fp, see sources.tables.write_bucketed): the fingerprint recompute
    AND the distinct are both skipped, and a bucketed index joins with
    no Exchange on the prior side at all (plan-gated in
    tests/test_pipeline_ops.py)."""
    fp_new = new_docs.select(
        F.col(id_col), TX.fingerprint(F.col(text_col)).alias("fp")
    )
    if prior_is_index:
        fp_prior = prior_docs.select("fp")
    else:
        fp_prior = prior_docs.select(
            TX.fingerprint(F.col(text_col)).alias("fp")
        ).distinct()
    w = Window.partitionBy("fp")
    tagged = (
        fp_new.join(
            fp_prior.withColumn("_hit", F.lit(1)), "fp", "left"
        )
        .withColumn("_min_id", F.min(id_col).over(w))
        .select(
            id_col,
            "fp",
            F.when(F.col("_hit").isNotNull(), F.lit("dup_of_prior"))
            .when(F.col(id_col) > F.col("_min_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("reason"),
        )
    )
    return tagged.orderBy(id_col)


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    block_cols: tuple[str, ...] = ("lang",),
    max_gram_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-duplication: containment(A in B) = |A∩B| / |A|
    over distinct n-grams — catches excerpts, quotes, and
    boilerplate-wrapped copies that symmetric Jaccard misses (a 100-word
    excerpt inside a 10k-word page has Jaccard ≈ 0.01 but containment
    ≈ 1.0). The dedup policy that drops contained docs keeps the
    superset document.

    Emits (inner_id, outer_id, containment) for ordered pairs where the
    INNER doc's gram set is ≥ threshold inside the outer's — both
    directions of each unordered candidate pair are tested, so A⊂B and
    B⊂A each surface as their own row. Shares the df-capped exploded
    gram pipeline with the Jaccard ops (same bounded candidate volume);
    containment is exact integer inter/|A| rounded once.
    """
    from pyspark import StorageLevel

    pre = _exploded_gram_table(
        docs, id_col, text_col, n, block_cols, max_gram_df
    )
    pre = pin(pre, level=StorageLevel.MEMORY_AND_DISK)
    inter = _gram_pair_intersections(pre, block_cols)
    # both directions from ONE pass over the intersections: the union
    # of two projections re-ran the candidate join + pair aggregate
    # once per direction (the before-plan shows two BroadcastHashJoin +
    # HashAggregate subtrees over the pinned gram table); an
    # explode(array(...)) emits the identical row multiset map-side
    # (the triangle-corner trick). Containment is exact inter/|side|
    # rounded once, unchanged.
    both = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id").alias("inner_id"),
                    F.col("id_b").alias("outer_id"),
                    F.round(F.col("inter") / F.col("n_grams"), 6).alias(
                        "containment"
                    ),
                ),
                F.struct(
                    F.col("id_b").alias("inner_id"),
                    F.col("id").alias("outer_id"),
                    F.round(F.col("inter") / F.col("n_grams_b"), 6).alias(
                        "containment"
                    ),
                ),
            )
        ).alias("p")
    ).select("p.inner_id", "p.outer_id", "p.containment")
    return both.filter(F.col("containment") >= threshold).orderBy(
        "inner_id", "outer_id"
    )


def ssjoin_prefix(
    docs: DataFrame,
    threshold: float = 0.6,
    df_cap: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact set-similarity join with PPJoin-style PREFIX FILTERING —
    an algorithmically tighter candidate generator than the df-capped
    gram join (ngram_jaccard_pairs_exploded): order every document's
    distinct tokens by global rarity (df asc, token asc) and index only
    each document's first |x| - ceil(t*|x|) + 1 tokens; the prefix
    theorem guarantees any pair with Jaccard >= t shares at least one
    PREFIX token, so the candidate equi-join runs on the rare end of
    the vocabulary where buckets are small. Verification is per-pair
    array_intersect over the two bounded token lists — no second
    token-level shuffle. Tokens with df > df_cap are dropped from the
    similarity universe on BOTH engines (corpus stopwords are a
    quadratic bucket no ordering saves; same cap contract as the gram
    ops). The threshold test is the exact integer comparison
    1e6*inter >= t_micro*(union), so no float boundary can flip a pair.

    Returns (doc_a, doc_b, n_common, n_a, n_b, jac_micro), doc_a <
    doc_b, Jaccard >= threshold over the df-capped distinct-token sets.

    Scale shape (100 TB): one vocab-sized df aggregate; per-doc sort is
    array_sort over bounded token lists (no global window); the ONLY
    pairwise join is on prefix tokens (rare by construction, hard-capped
    by df_cap); verification touches candidates only."""
    t_micro = int(round(threshold * 1_000_000))
    tok = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(TX.tokens(F.col(text_col))).alias("w"),
        )
        .where(F.col("w") != "")
        .distinct()
    )
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= df_cap
    )
    tok = tok.join(dfreq, "w")
    lists = tok.groupBy("doc").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("df"), F.col("w")))
        ).alias("toks"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "doc", "n",
        F.transform(F.col("toks"), lambda s: s["w"]).alias("ws"),
    )
    # pinned: THREE consumers read lists (the prefix explode and both
    # verification sides) — without the pin the tokenize + distinct +
    # df-join + collect_list pipeline re-runs per consumer. Doc-sized
    # with df-capped token arrays: the natural PPJoin index relation a
    # real deployment materializes.
    from pyspark import StorageLevel

    lists = pin(lists, level=StorageLevel.MEMORY_AND_DISK)
    # prefix length |x| - ceil(t|x|) + 1 (>=1 for any t <= 1)
    plen = (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1).cast("int")
    prefix = lists.select(
        "doc", F.explode(F.slice("ws", 1, plen)).alias("w")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), F.col("a.w") == F.col("b.w"))
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .distinct()
    )
    la = lists.select(
        F.col("doc").alias("doc_a"), F.col("n").alias("n_a"),
        F.col("ws").alias("ws_a"),
    )
    lb = lists.select(
        F.col("doc").alias("doc_b"), F.col("n").alias("n_b"),
        F.col("ws").alias("ws_b"),
    )
    inter = F.size(F.array_intersect("ws_a", "ws_b"))
    verified = (
        cand.join(la, "doc_a")
        .join(lb, "doc_b")
        .select(
            "doc_a", "doc_b",
            inter.cast("bigint").alias("n_common"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
        )
        .where(
            F.lit(1_000_000) * F.col("n_common")
            >= F.lit(t_micro)
            * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
    )
    return verified.select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b",
        F.round(
            F.lit(1e6) * F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        ).cast("bigint").alias("jac_micro"),
    )


# ------------------------------------------------ engine-portable (md5) LSH
# The xxhash64 pipelines above are the production paths (xxhash64 is the
# cheapest JVM hash); these md5 twins exist so the SAME candidate
# generation is hash-verifiable against a DuckDB oracle — every hash is
# a 60-bit md5 prefix both engines compute identically
# (conv(substr(md5(s),1,15),16,10) here == CAST('0x'||substr(md5(s),1,15)
# AS BIGINT) there), and every score is integer-valued. Same plan shapes
# as the production twins: banded equi-joins, bucket caps, no UDF hashing.


def md5_hash60(s) -> Column:
    """Signed 60-bit hash from the md5 hex prefix — identical in any
    engine with md5 (the split_bucket portability contract, text.py)."""
    return F.conv(F.substring(F.md5(_c(s)), 1, 15), 16, 10).cast("long")


def _md5_hash60_sql(s: str) -> str:
    """md5_hash60 of SQL expression `s`, as SQL text (the same tree)."""
    return f"CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"


def md5_shingles_from_tokens(toks, k: int = 3) -> Column:
    """k-word shingle hashes (60-bit md5) from a MATERIALIZED token
    array — the engine-portable twin of rolling_hash_shingles_from_tokens
    (same projection-barrier rule)."""
    tc = _c(toks)
    idx = F.sequence(F.lit(1), F.greatest(F.size(tc) - k + 1, F.lit(1)))
    return F.transform(
        idx, lambda i: md5_hash60(F.array_join(F.slice(tc, i, k), " "))
    )


def minhash_lsh_pairs_md5(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    min_matches: int = 13,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with md5 shingle/band hashes and an
    INTEGER match-count gate (min_matches equal signature lanes of
    num_hashes ≈ est-Jaccard ≥ min_matches/num_hashes) — candidate
    generation identical in shape to minhash_lsh_pairs (band equi-join,
    one shuffle), every emitted value integer. NULL-text docs are
    excluded (their signature would be the degenerate all-min row).
    Output: (id_a, id_b, n_matches)."""
    keyed = _banded_signatures(
        docs.filter(F.col(text_col).isNotNull()),
        id_col, text_col, num_hashes, bands,
        lambda toks: md5_shingles_from_tokens(toks, k=shingle_k),
        lambda lanes: _md5_hash60_sql(
            "concat_ws(',', "
            + ", ".join(f"CAST({c} AS STRING)" for c in lanes) + ")"
        ),
    )
    matches = LSH.matched_lanes(F.col("sig"), F.col("sig_b"))
    return LSH.band_pairs(
        keyed,
        matches.cast("int").alias("n_matches"),
        F.col("n_matches") >= min_matches,
    )


def minhash_md5_oracle_sql(
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    min_matches: int = 13,
) -> str:
    """DuckDB oracle for minhash_lsh_pairs_md5: the SAME md5 shingles,
    the SAME rng(42) affine lanes (embedded as HUGEINT literals,
    wrapping mod 2^64 exactly like the numpy uint64 kernel), the SAME
    md5 band hash and integer match gate."""
    A, B = minhash_lane_constants()
    rows = num_hashes // bands
    ab = ",\n      ".join(
        f"({k}, {int(A[k])}::HUGEINT, {int(B[k])}::HUGEINT)"
        for k in range(num_hashes)
    )
    return f"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    pos AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - {shingle_k} + 1, 1))) AS i
      FROM d
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(array_to_string(
                    t[i:i+{shingle_k - 1}], ' ')), 1, 15)) AS BIGINT) AS h
      FROM pos
    ),
    ab(k, a, b) AS (VALUES
      {ab}
    ),
    mins AS (
      SELECT doc_id, ab.k,
             min((CAST(h AS HUGEINT) * ab.a + ab.b)
                 % 18446744073709551616::HUGEINT) AS mu
      FROM sh CROSS JOIN ab GROUP BY doc_id, ab.k
    ),
    sig AS (
      SELECT doc_id, k,
             CAST(CASE WHEN mu >= 9223372036854775808::HUGEINT
                       THEN mu - 18446744073709551616::HUGEINT
                       ELSE mu END AS BIGINT) AS v
      FROM mins
    ),
    bh AS (
      SELECT doc_id, CAST(k // {rows} AS INT) AS band,
             CAST(('0x' || substr(md5(string_agg(CAST(v AS VARCHAR), ','
                    ORDER BY k)), 1, 15)) AS BIGINT) AS bhash
      FROM sig GROUP BY doc_id, k // {rows}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bh a JOIN bh b
        ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    ),
    m AS (
      SELECT c.id_a, c.id_b,
             SUM(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS n_matches
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b AND sb.k = sa.k
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, CAST(n_matches AS INT) AS n_matches
    FROM m WHERE n_matches >= {min_matches}
    ORDER BY id_a, id_b
    """


def simhash_md5_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 10,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs over a 120-bit md5 fingerprint (two 60-bit
    words from independently salted md5 token hashes) — the
    engine-portable twin of simhash128_pairs: same vote kernel
    (_fp128_udf; the four dead top bits of each 60-bit word vote 0),
    same bucket-cap guard, candidates share one of six 20-bit chunks
    (~1M buckets/chunk — the same at-scale bucket-density shape).
    NULL-text docs are excluded. Output: (id_a, id_b, hamming)."""
    mask = (1 << 20) - 1
    return _simhash_pairs(
        docs.filter(F.col(text_col).isNotNull()), id_col, text_col,
        (lambda w: md5_hash60(w), lambda w: md5_hash60(F.concat(F.lit("1:"), w))),
        lambda w0, w1: [
            F.shiftrightunsigned(w0 if c < 3 else w1, (c % 3) * 20).bitwiseAND(
                F.lit(mask)
            )
            for c in range(6)
        ],
        max_hamming, max_bucket_size,
    )


def simhash_md5_oracle_sql(
    max_hamming: int = 10, max_bucket_size: int | None = None
) -> str:
    """DuckDB oracle for simhash_md5_pairs: per-token 60-bit md5 hashes,
    per-bit ±1 vote sums via a range(60) cross join (exactly the numpy
    kernel's bits.sum*2 - len), sign → fingerprint words, same 20-bit
    chunk buckets, cap, and integer hamming verify."""
    cap = (
        f"""
    ok AS (
      SELECT chunk, ckey FROM chunked GROUP BY chunk, ckey
      HAVING COUNT(*) <= {max_bucket_size}
    ),
    capped AS (SELECT c.* FROM chunked c JOIN ok USING (chunk, ckey)),"""
        if max_bucket_size is not None
        else """
    capped AS (SELECT * FROM chunked),"""
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    th AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h0,
             CAST(('0x' || substr(md5('1:' || w), 1, 15)) AS BIGINT) AS h1
      FROM toks
    ),
    votes AS (
      SELECT doc_id, r.b,
             SUM(((h0 >> r.b) & 1) * 2 - 1) AS v0,
             SUM(((h1 >> r.b) & 1) * 2 - 1) AS v1
      FROM th CROSS JOIN range(60) r(b)
      GROUP BY doc_id, r.b
    ),
    fp AS (
      SELECT doc_id,
             SUM(CASE WHEN v0 > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS w0,
             SUM(CASE WHEN v1 > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS w1
      FROM votes GROUP BY doc_id
    ),
    chunked AS (
      SELECT doc_id, w0, w1, r.c AS chunk,
             ((CASE WHEN r.c < 3 THEN w0 ELSE w1 END)
              >> ((r.c % 3) * 20)) & 1048575 AS ckey
      FROM fp CROSS JOIN range(6) r(c)
    ),{cap}
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM capped a JOIN capped b
        ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(fa.w0, fb.w0))
                + bit_count(xor(fa.w1, fb.w1)) AS INT) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.id_a
    JOIN fp fb ON fb.doc_id = c.id_b
    WHERE bit_count(xor(fa.w0, fb.w0)) + bit_count(xor(fa.w1, fb.w1))
          <= {max_hamming}
    ORDER BY id_a, id_b
    """
