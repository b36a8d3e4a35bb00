"""Similarity search over embedding columns (array<float>).

Every top-k path here is a scoring step over one shared core; the
host engine does the scanning, joining and ranking:

- `_topk`: the per-query top-k window (row_number over the query,
  ordered by a score in either direction, then by id). Every exact,
  LSH, SQ8, PQ, IVF, IVF-PQ, negative-mining, binary and seeded-IVF
  path ends in it, and the IVF probe router is one of its callers.
- `_route`: the broadcast queries x centroids L2 window that sends each
  query to its `n_probe` nearest cells (ivf_search, ivfpq_topk,
  ivfpq_residual_topk).
- `_train_matrix` + `_lloyd_fit`: the sorted, capped training collect
  and the one driver-side numpy Lloyd k-means (empty cells reseed on
  distinct farthest points) behind build_ivf_index,
  build_twolevel_cells and pq_train; `_sq_dists` is the one squared-L2
  kernel those fits and their Arrow assignment passes share.
- `_dot_table_udf`: the per-query ADC dot tables (codebook_s @ q_s)
  that the IVF-PQ probe side carries into the codes join.

Scores differ per path (cosine, SQ8/PQ reconstructions, Hamming,
inner product, integer cosine), the ranking and routing do not. The
integer twins at the bottom (seeded_ivf_topk, rademacher_near_dups)
keep SQL-reproducible fits so a DuckDB oracle can hash-check them.
Beside the top-k paths: near-duplicate pairs (LSH bands on
operators/lsh.py, SemDeDup within k-means cells) and exact embedding
statistics (label centroids, covariance, PCA).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import lsh as LSH
from .dedup import _spread
from ..functions.span import _c
from ..pins import memo, pin


_TRAIN_CAP = 100_000  # rows an index fit collects, at any corpus size


def _fsum(arr: Column) -> Column:
    """Left-fold double sum of an array column."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def dot(a, b) -> Column:
    # cast each element to double BEFORE multiplying: float32 inputs would
    # otherwise round products to float32 (and diverge from any
    # double-precision oracle)
    return _fsum(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    )


def norm(a) -> Column:
    return F.sqrt(
        _fsum(F.transform(_c(a), lambda x: x.cast("double") * x.cast("double")))
    )


def _topk(
    df: DataFrame, part: str, score, k: int, id_col: str,
    desc: bool = True, rank_col: str = "rank",
) -> DataFrame:
    """Rows of `df` ranked 1..k within each `part` group: row_number
    ordered by `score` (a column name or expression; descending unless
    `desc=False`), ties broken on `id_col` ascending."""
    s = _c(score)
    w = Window.partitionBy(part).orderBy(
        s.desc() if desc else s.asc(), F.col(id_col).asc()
    )
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def _route(
    queries: DataFrame, centroids: DataFrame, n_probe: int,
    query_id_col: str, query_vec_col: str,
) -> DataFrame:
    """Each query joined to its `n_probe` nearest (cell, centroid) rows
    by exact squared L2 (ties on cell id): a broadcast of the small
    centroid table, then the per-query window."""
    l2 = _fsum(F.zip_with(
        F.col(query_vec_col), F.col("centroid"),
        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
    ))
    return _topk(
        queries.crossJoin(F.broadcast(centroids)), query_id_col, l2,
        n_probe, "cell", desc=False, rank_col="_r",
    )


def _sq_dists(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(len(x), len(c)) squared L2 distances via the dot-product
    expansion."""
    return (x * x).sum(1)[:, None] - 2.0 * x @ c.T + (c * c).sum(1)


def _train_matrix(emb: DataFrame, id_col: str, vec_col: str) -> np.ndarray:
    """The first `_TRAIN_CAP` vectors by id as a float64 matrix: a
    bounded, partitioning-independent training sample (at 100 TB a
    quantizer is always fit on a sample, never the corpus)."""
    rows = (
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .sort("_id")
        .limit(_TRAIN_CAP)
        .collect()
    )
    x = np.asarray([r["_v"] for r in rows], dtype=np.float64)
    if x.size == 0:
        raise ValueError("empty embedding input: nothing to train on")
    return x


def _lloyd_fit(
    x: np.ndarray, k: int, rng: np.random.RandomState, max_iter: int = 8
) -> np.ndarray:
    """Deterministic driver-side Lloyd k-means: min(k, len(x)) centroids
    seeded by `rng`. Each cell that empties in an iteration is reseeded
    on a DISTINCT point, farthest-first (a shared argmax would collapse
    several empty cells onto one duplicate centroid for good)."""
    k = min(k, len(x))
    cent = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(max_iter):
        d2 = _sq_dists(x, cent)
        lab = d2.argmin(1)
        far, fi = None, 0
        for j in range(k):
            m = lab == j
            if m.any():
                cent[j] = x[m].mean(0)
            else:
                if far is None:  # sorted only in an iteration that needs it
                    far = np.argsort(-d2.min(1))
                cent[j] = x[far[fi]]
                fi += 1
    return cent


def _dot_table_udf(cents: np.ndarray):
    """Pandas UDF: query vector -> its ADC dot tables, one row of k
    doubles dot(q_s, codebook_s[code]) per subspace s (m x k)."""
    m, _, dsub = cents.shape
    cb = cents.copy()

    @F.pandas_udf("array<array<double>>")
    def _dot_tables(qv: pd.Series) -> pd.Series:
        out = []
        for v in qv:
            q = np.asarray(v, dtype=np.float64)
            out.append([
                (cb[s] @ q[s * dsub : (s + 1) * dsub]).tolist()
                for s in range(m)
            ])
        return pd.Series(out)

    return _dot_tables


def _adc_sum(tables: Column) -> Column:
    """Sum over subspaces of tables[s][codes[s]] (the ADC lookup)."""
    return _fsum(F.zip_with(
        F.col("codes"), tables, lambda c, t: F.element_at(t, c + 1)
    ))


def cosine(a, b) -> Column:
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def cosine_arrow(a, b) -> Column:
    """Arrow-batched pairwise cosine (rowwise numpy einsum) — same
    semantics as `cosine` (zero-norm → 0.0) but vectorized: the HOF
    version evaluates ~dim interpreted ops per row inside Catalyst,
    which dominates wall time on large candidate-pair relations
    (measured 57 → 9 s on the sf1 semantic-dedup pair verify). Use the
    HOF `cosine` where rows are few or a pandas-UDF boundary is
    unwanted; use this on pair-verify paths whose row counts scale
    with the corpus. Both agree after the 6-dp round the verify paths
    apply (summation order differs only in the last ulp)."""

    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        n = len(va)
        out = np.zeros(n, dtype=np.float64)
        # NULL vectors score 0.0, matching the HOF's otherwise-branch
        # (vectors must share one fixed dimension — ragged inputs are
        # a schema error, not a supported case)
        rows = [
            i
            for i in range(n)
            if va.iat[i] is not None and vb.iat[i] is not None
        ]
        if rows:
            ma = np.asarray(
                [np.asarray(va.iat[i], dtype=np.float64) for i in rows]
            )
            mb = np.asarray(
                [np.asarray(vb.iat[i], dtype=np.float64) for i in rows]
            )
            na = np.linalg.norm(ma, axis=1)
            nb = np.linalg.norm(mb, axis=1)
            d = np.einsum("ij,ij->i", ma, mb)
            ok = (na > 0) & (nb > 0)
            out[rows] = np.where(ok, d / np.where(ok, na * nb, 1.0), 0.0)
        return pd.Series(out)

    return _cos(_c(a), _c(b))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine for each (broadcast) query vector.

    Returns (query_id, vec_id, cos, rank). Ties break on vec_id for
    determinism.

    Contract: `exclude_self=True` (default) assumes query ids live in
    the CORPUS id space and drops the id==query_id row (a vector is
    trivially its own nearest neighbor). If queries come from a separate
    id space, pass exclude_self=False — otherwise an accidental id
    collision silently drops a legitimate neighbor.
    """
    joined = emb.crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("cos"),
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    return _topk(scored, query_id_col, "cos", k, id_col)


def _planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signature(vec, dim: int, n_planes: int = 16, seed: int = 42) -> Column:
    """Bit signature: sign of projection on each fixed hyperplane.

    The plane matrix is ONE parsed literal (repr() round-trips every
    float exactly, and Spark's `...D` suffix parses to the identical
    double) and the projections ONE transform/aggregate tree — building
    n_planes per-plane dot trees from 64 F.lit() calls each cost ~1k
    py4j round-trips per invocation (pure query-build overhead). Each
    projection is `dot` of the vector with one plane row (cast-to-double
    products, left-fold sum); bit i is proj_i > 0."""
    planes = _planes(dim, n_planes, seed)
    if not np.isfinite(planes).all():
        # `nanD`/`infD` would parse as unresolved columns, far from here
        raise ValueError(f"non-finite LSH plane coefficient (seed {seed})")
    rows = ", ".join(
        "array(" + ", ".join(f"{x!r}D" for x in p) + ")" for p in planes
    )
    planes_lit = F.expr(f"array({rows})")
    projs = F.transform(planes_lit, lambda p: dot(vec, p))
    # fold the sign bits in ONE pass that references `projs` exactly
    # once: higher-order functions are CodegenFallback, so Catalyst's
    # subexpression elimination does NOT apply — an OR-chain of
    # element_at(projs, i) terms re-evaluates all n_planes projections
    # once per bit (n² dots per row; measured 2.7 -> 7.6 s on the
    # near-dup recall query before this fold). bit i = 2^i when
    # proj_i > 0 (2^i is exact in double for i < 53, the cast is
    # exact), and the bits are distinct powers so bitwise-OR of the
    # old chain equals this fold.
    bits = F.transform(
        projs,
        lambda p, i: F.when(
            p > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda a, b: a.bitwiseOR(b)
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: candidates share the full LSH bucket with the
    query; exact cosine re-rank inside buckets. Recall rises with fewer
    planes (bigger buckets) — n_planes tunes the recall/cost trade."""
    e = emb.withColumn("_sig", lsh_signature(F.col(vec_col), dim, n_planes))
    q = queries.withColumn("_qsig", lsh_signature(F.col(query_vec_col), dim, n_planes))
    cand = e.join(F.broadcast(q), F.col("_sig") == F.col("_qsig"))
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("cos"),
    ).filter(F.col(id_col) != F.col(query_id_col))
    return _topk(scored, query_id_col, "cos", k, id_col)


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int | None = None,
    min_cos: float = 0.95,
    n_tables: int = 2,
    target_occupancy: float = 2.0,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing + exact
    verify — the embedding-space analog of minhash_lsh_pairs.

    Scale contract: with a FIXED plane count, 10x the vectors makes
    every bucket 10x denser and the exact-verify candidate set ~100x —
    measured 13.3x wall at 10x data in the sf0.1→sf1 sweep, the classic
    fixed-bit LSH density law. `n_planes=None` (default) therefore
    derives the plane count from the corpus size so expected bucket
    occupancy stays ~`target_occupancy`: planes = ceil(log2(n/target))
    (one cheap count() scan; at a real deployment pass the known corpus
    cardinality instead). Recall at a given min_cos is then held
    independently of corpus size by `n_tables` salted plane sets whose
    candidate sets are unioned before the exact verify (the bands×rows
    structure of minhash LSH; cost = n_tables × linear). Identical
    vectors collide in every table regardless of parameters, so the
    planted-copy recall oracle is parameter-independent."""
    import math

    from pyspark import StorageLevel

    # pin the (id, vec) projection ONCE: it is read by the signature
    # explode and by BOTH exact-verify sides (va/vb below) — without
    # the pin the embeddings parquet is scanned and projected three
    # more times after the occupancy count. The count doubles as the
    # eager materialization of the (call-scoped) pin.
    base = pin(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        level=StorageLevel.MEMORY_AND_DISK,
    )
    n = base.count()
    if n_planes is None:
        n_planes = max(4, math.ceil(math.log2(max(2.0, n / target_occupancy))))
    # the n_tables salted plane sets are the bands: the table index in
    # the bucket key keeps candidates within their table, and all
    # tables share one scan and one self-join
    keyed = LSH.band_rows(base, [
        lsh_signature(F.col("v"), dim, n_planes, seed=42 + t)
        for t in range(max(1, n_tables))
    ]).drop("v")
    pairs = LSH.band_candidates(keyed).select("id", "id_b").distinct()
    va = base
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    scored = (
        pairs.join(va, "id")
        .join(vb, "id_b")
        .select(
            F.col("id").alias("id_a"),
            F.col("id_b"),
            F.round(cosine_arrow(F.col("v"), F.col("v_b")), 6).alias("cos"),
        )
        # barrier: the min_cos filter would otherwise predicate-push
        # through this projection and re-run the Arrow kernel in a
        # second ArrowEvalPython node (the pushdown double-eval class,
        # PERF.md) — candidates are bucket-bounded, so materializing
        # them is cheap
        .localCheckpoint(eager=False)
    )
    return scored.filter(F.col("cos") >= min_cos)


# Index builds (build_ivf_index, pq_train, sq8_train) are DETERMINISTIC
# — sort-by-id + bounded sample + seeded fit, same input, same output —
# so callers memoize them with pins.memo keyed by (session, data
# identity, params): the train-once/search-many deployment shape.
# Without it every query re-collects the capped train sample and refits
# driver-side (measured 56 s/call at the 192k-vector sweep point where
# the 100k cap binds). The code tables they persist when memoized are
# session-scoped pins. build_ivf_index pins its assignment in `scope`:
# "session" where later queries search a memoized index again, the
# call scope otherwise, so a build nothing keeps is released with its
# query.
def build_ivf_index(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    scope: str = "call",
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF coarse-quantizer index ONCE: `_lloyd_fit` on the
    bounded training sample (`_train_matrix`), then assign every vector
    to its nearest cell in ONE Arrow pass (a vectorized (batch×d)@(d×k)
    matmul pandas UDF with the k×d centroid matrix in the closure —
    linear scan, no shuffle, no N×k row blowup), and persist the
    (id, vec, cell) assignment table.

    Returns (assignments, centroids): `assignments` is the
    cell-assignment DataFrame, pinned in `scope` (pass "session" when
    the result is memoized); `centroids` is an (cell, centroid) table
    of n_centroids rows used to route queries. Plan size is O(1) in
    n_centroids — works at n_centroids=256 and beyond. (Earlier
    versions used MLlib KMeans: correct, but its class-loading +
    per-iteration job overhead dominated at bench scale — 3.5 s of the
    old 5.7 s cold cost — for a quantizer numpy fits in milliseconds.)
    """
    from pyspark import StorageLevel

    x = _train_matrix(emb, id_col, vec_col)
    cent = _lloyd_fit(x, n_centroids, np.random.RandomState(seed), max_iter)

    @F.pandas_udf("int")
    def nearest_cell(v: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(a, dtype=np.float64) for a in v])
        if m.size == 0:
            return pd.Series([], dtype="int32")
        return pd.Series(_sq_dists(m, cent).argmin(1).astype("int32"))

    assigned = pin(
        emb.select(
            F.col(id_col), F.col(vec_col),
            nearest_cell(F.col(vec_col)).alias("cell"),
            norm(F.col(vec_col)).alias("_norm"),
        ),
        scope,
        level=StorageLevel.MEMORY_AND_DISK,
    )
    centroids = emb.sparkSession.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(cent)],
        schema="cell int, centroid array<double>",
    )
    return assigned, centroids


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Search an IVF index: route each query to its `n_probe` nearest
    cells (`_route`), then equi-join candidates on cell id and
    exact-cosine re-rank. Search cost is O(N·n_probe/n_centroids) per
    query; the candidate join shuffles on cell — the 100 TB-safe
    shape."""
    probes = _route(
        queries, centroids, n_probe, query_id_col, query_vec_col
    ).select(
        query_id_col, query_vec_col, "cell",
        norm(F.col(query_vec_col)).alias("_qnorm"),
    )
    cand = assigned.join(F.broadcast(probes), "cell")
    # norms precomputed (index-side at build, query-side in the tiny
    # probe table) — per-candidate work is one dot product + divide
    cos_pre = F.when(
        (F.col("_norm") > 0) & (F.col("_qnorm") > 0),
        dot(F.col(vec_col), F.col(query_vec_col))
        / (F.col("_norm") * F.col("_qnorm")),
    ).otherwise(F.lit(0.0))
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cos_pre, 6).alias("cos"),
    ).filter(F.col(id_col) != F.col(query_id_col))
    return _topk(scored, query_id_col, "cos", k, id_col)


def save_ivf_index(
    assigned: DataFrame, centroids: DataFrame, path: str, mode: str = "overwrite"
):
    """Persist an IVF index at rest: the assignment table lands as
    parquet PARTITIONED BY cell (a probe-join against the loaded index
    then touches only the probed cells' files — with broadcast probes,
    dynamic partition pruning skips the rest of the corpus on disk),
    centroids as a single small parquet. Build once on the 100 TB
    corpus, reuse across every search session."""
    assigned.write.mode(mode).partitionBy("cell").parquet(f"{path}/assignments")
    centroids.write.mode(mode).parquet(f"{path}/centroids")


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load an IVF index written by save_ivf_index. Returns (assigned,
    centroids) with the same schema/contract as build_ivf_index — drop
    the result straight into ivf_search."""
    assigned = spark.read.parquet(f"{path}/assignments")
    centroids = spark.read.parquet(f"{path}/centroids")
    return assigned, centroids


# ------------------------------------------------------- SQ8 quantization
def sq8_train(emb: DataFrame, vec_col: str = "embedding") -> tuple[list, list]:
    """Per-dimension (min, max) over the corpus — the scalar-quantizer
    codebook. One posexplode + hash-partitioned agg (map-side combined),
    then 2·dim doubles collected to the driver: at 100 TB this is the
    same one-pass shape, and the codebook is always driver-sized
    (dim ≪ row count). Train on a sample at extreme scale."""
    stats = (
        emb.select(F.posexplode(_c(vec_col)).alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.min(F.col("v").cast("double")).alias("lo"),
            F.max(F.col("v").cast("double")).alias("hi"),
        )
        .orderBy("dim")
        .collect()
    )
    lo = [r["lo"] for r in stats]
    hi = [r["hi"] for r in stats]
    return lo, hi


def sq8_codes(vec, lo: list, hi: list) -> Column:
    """8-bit scalar quantization: code_i = floor(255·(v−lo_i)/(hi_i−lo_i)
    + 0.5), clamped to [0, 255]. floor(x+0.5) rather than round() so any
    oracle engine reproduces the codes bit-for-bit (round() half-case
    conventions differ across engines). Codes are ARRAY<INT> (Spark has
    no unsigned byte); at rest they compress to a byte per dim. Pure JVM
    zip_with arithmetic — the codec runs at scan speed."""
    lo_a = F.array(*[F.lit(float(x)) for x in lo])
    # ranges precomputed driver-side: same IEEE subtraction, done once
    # instead of per row
    rng_a = F.array(*[F.lit(float(h) - float(l)) for h, l in zip(hi, lo)])
    scaled = F.zip_with(
        F.zip_with(_c(vec), lo_a, lambda v, l: v.cast("double") - l),
        rng_a,
        lambda d, rng: F.when(rng > 0, 255.0 * d / rng).otherwise(F.lit(0.0)),
    )
    return F.transform(
        scaled,
        lambda s: F.greatest(
            F.lit(0), F.least(F.lit(255), F.floor(s + 0.5).cast("int"))
        ),
    )


def sq8_dequantize(codes, lo: list, hi: list) -> Column:
    """Reconstruct: v̂_i = lo_i + code_i·(hi_i−lo_i)/255."""
    lo_a = F.array(*[F.lit(float(x)) for x in lo])
    rng_a = F.array(*[F.lit(float(h) - float(l)) for h, l in zip(hi, lo)])
    return F.zip_with(
        F.zip_with(_c(codes), rng_a, lambda c, r: r * c.cast("double") / 255.0),
        lo_a,
        lambda x, l: l + x,
    )


def sq8_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    codebook: "tuple[list, list] | None" = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k cosine where the CORPUS side is 8-bit scalar-quantized and
    queries stay float — the standard asymmetric-distance setup (4× less
    memory/IO on the side that is 100 TB; the float side is tiny).
    Deterministic: codes via floor(x+0.5), scores ranked on the
    round-6 cosine with id tiebreak, same contract as brute_force_topk
    (including `exclude_self`: queries are assumed to share the corpus
    id space — pass False when they come from a separate id space, or a
    query_id that collides with a vec_id silently drops that neighbor).
    Pass `codebook` = (lo, hi) from a prior sq8_train to skip the
    training pass — at scale the codebook is trained once and reused
    across every query batch (a second full corpus scan per batch would
    defeat the point of the smaller store)."""
    lo, hi = codebook if codebook is not None else sq8_train(emb, vec_col)
    deq = emb.select(
        F.col(id_col),
        sq8_dequantize(sq8_codes(F.col(vec_col), lo, hi), lo, hi).alias("_deq"),
    )
    joined = deq.crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col("_deq"), F.col(query_vec_col)), 6).alias("qcos"),
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    return _topk(scored, query_id_col, "qcos", k, id_col)


# =====================================================================
# Product quantization (PQ) with asymmetric-distance (ADC) scoring —
# the compression step past SQ8: m sub-codebooks of k centroids give
# m·log2(k) bits per vector (dim=64, m=8, k=16 -> 4 bytes vs 256 float
# bytes, 64x). At 100 TB the codes table is what lives on disk/memory;
# queries stay float and score against per-query distance tables, so
# the scan side never touches floats.
# =====================================================================


def pq_train(
    emb: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    max_iter: int = 10,
    seed: int = 7,
) -> np.ndarray:
    """Train m independent k-means sub-codebooks on the bounded training
    sample (same contract as build_ivf_index: `_train_matrix`, then one
    `_lloyd_fit` per subspace, all drawing from ONE seeded RandomState —
    the codebook is m·k·(dim/m) floats, trained once and broadcast
    forever). Returns centroids with shape (m, k, dim//m)."""
    x = _train_matrix(emb, id_col, vec_col)
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    cents = np.empty((m, k, dsub))
    for s in range(m):
        cent = _lloyd_fit(x[:, s * dsub : (s + 1) * dsub], k, rng, max_iter)
        # degenerate tiny corpus: pad with the last centroid
        cents[s] = np.vstack([cent, np.repeat(cent[-1:], k - len(cent), 0)])
    return cents


def pq_codes(
    emb: DataFrame,
    cents: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector its m sub-codes (argmin L2 per subspace) —
    one Arrow-batched kernel pass over the corpus, nothing per-row.
    Returns (id_col, codes array<int>)."""
    m, k, dsub = cents.shape
    cmat = cents.copy()

    @F.pandas_udf("array<int>")
    def _codes(v: pd.Series) -> pd.Series:
        arr = np.asarray([np.asarray(a, dtype=np.float64) for a in v])
        if arr.size == 0:
            return pd.Series([], dtype="object")
        out = np.empty((len(arr), m), dtype=np.int32)
        for s in range(m):
            xs = arr[:, s * dsub : (s + 1) * dsub]
            out[:, s] = _sq_dists(xs, cmat[s]).argmin(1)
        return pd.Series(list(out))

    return emb.select(F.col(id_col), _codes(F.col(vec_col)).alias("codes"))


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    cents: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by ADC: score(q, v) = cosine of q with v's
    reconstruction, computed WITHOUT reconstructing per row.

    Plan shape (r11 re-plan, VERDICT r10 item 5): the dot tables
    (m × k doubles per query: dot(q_s, centroid)) and per-centroid norm
    table are computed ONCE driver-side from the bounded query batch
    (the same boundedness the old broadcast-join form relied on), then
    one mapInPandas pass over the 4-byte-per-vector codes relation
    scores EVERY query against each Arrow batch as two numpy gathers —
    the previous zip_with/aggregate form evaluated m interpreted HOF
    ops per (code, query) pair, the measured 47 s/call at the
    192k-vector sweep point. The kernel keeps only its per-batch top-k
    per query (identical (round6(cos) DESC, id ASC) order), so the
    final exact Window ranks nparts·nq·k survivor rows instead of
    nq·|corpus|. The scale path reuses a precomputed `codes` table
    (pass it in) so the float corpus is read zero times per query
    batch."""
    m, nk, dsub = cents.shape
    if codes is None:
        codes = pq_codes(emb, cents, id_col, vec_col)
    flat = cents.reshape(m * nk, dsub)
    rnorm2 = (flat * flat).sum(1).reshape(m, nk)
    cmat = cents.copy()

    qrows = queries.select(query_id_col, query_vec_col).collect()
    qids = [r[query_id_col] for r in qrows]
    if qrows:
        qmat = np.asarray(
            [np.asarray(r[query_vec_col], dtype=np.float64) for r in qrows]
        )
        qn = np.sqrt((qmat * qmat).sum(1))
        # DT[q, s, code] = dot(q_s, centroid[s][code])
        dt = np.stack(
            [qmat[:, s * dsub : (s + 1) * dsub] @ cmat[s].T for s in range(m)],
            axis=1,
        )
    else:
        qn = np.zeros(0)
        dt = np.zeros((0, m, nk))

    qid_t = queries.schema[query_id_col].dataType.simpleString()
    vid_t = codes.schema[id_col].dataType.simpleString()
    out_schema = f"{query_id_col} {qid_t}, {id_col} {vid_t}, pq_cos double"

    def _score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or not qids:
                continue
            C = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )
            vids = pdf[id_col].to_numpy()
            rn = np.sqrt(
                sum(rnorm2[s][C[:, s]] for s in range(m))
            )
            num = sum(dt[:, s, :][:, C[:, s]] for s in range(m))  # (nq, n)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = num / (rn[None, :] * qn[:, None])
            cos = np.where((rn[None, :] > 0) & (qn[:, None] > 0), cos, 0.0)
            # HALF-AWAY-FROM-ZERO to mirror Spark ROUND(double, 6) —
            # the rank order must match the old F.round-then-Window form
            cos = (
                np.where(
                    cos >= 0,
                    np.floor(cos * 1e6 + 0.5),
                    np.ceil(cos * 1e6 - 0.5),
                )
                / 1e6
            )
            kk = min(k, n)
            for qi in range(len(qids)):
                row = cos[qi]
                # top-k by (cos DESC, id ASC): lexsort on (-cos, vids)
                order = np.lexsort((vids, -row))[:kk]
                yield pd.DataFrame(
                    {
                        query_id_col: [qids[qi]] * kk,
                        id_col: vids[order],
                        "pq_cos": row[order],
                    }
                )

    survivors = codes.select(id_col, "codes").mapInPandas(
        _score, schema=out_schema
    )
    return _topk(survivors, query_id_col, "pq_cos", k, id_col)


def build_twolevel_cells(
    emb: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Two-level nearest-cell assignment for LARGE derived cell counts.

    build_ivf_index assigns each vector by brute force against all k
    centroids — n*k flops. semantic_dedup derives k ∝ n (E[cell]~64),
    so flat assignment is O(n²/64): the sf3 sweep measured 4.2× wall at
    3× data. Here the sample is quantized hierarchically — k1 = ceil(√k)
    coarse centroids, then per-coarse-cell fine sub-quantizers whose
    counts are proportional to the coarse cell's sample share (Σ≈k) —
    and each vector routes coarse-then-fine: n*(√k + E[k/√k]) ≈ n*2√k
    flops, the standard faiss-style IVF-in-IVF shape.

    Routing is a deterministic function of the vector alone, so
    identical vectors always share a cell (the planted-copy oracle's
    only requirement). Cells are approximate nearest — fine for dedup
    blocking, NOT for query routing; build_ivf_index remains the path
    that returns a centroid table for probes.

    Returns the (id_col, vec_col, cell) assignment, pinned in the call
    scope, cell = global fine-centroid index.
    """
    import math

    from pyspark import StorageLevel

    x = _train_matrix(emb, id_col, vec_col)
    k = max(1, min(n_cells, len(x)))
    k1 = max(1, int(math.ceil(math.sqrt(k))))
    coarse = _lloyd_fit(x, k1, np.random.RandomState(seed))
    k1 = len(coarse)
    lab = _sq_dists(x, coarse).argmin(1)

    fine_parts, offsets, counts = [], np.zeros(k1, np.int64), np.zeros(k1, np.int64)
    gid = 0
    for j in range(k1):
        xs = x[lab == j]
        offsets[j] = gid
        if len(xs) == 0:
            continue
        kj = max(1, int(round(k * len(xs) / len(x))))
        cj = _lloyd_fit(xs, kj, np.random.RandomState(seed + 1 + j))
        fine_parts.append(cj)
        counts[j] = len(cj)
        gid += len(cj)
    fmat = np.concatenate(fine_parts)

    @F.pandas_udf("int")
    def cell2(v: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(a, dtype=np.float64) for a in v])
        if m.size == 0:
            return pd.Series([], dtype="int32")
        cj = _sq_dists(m, coarse).argmin(1)
        out = np.empty(len(m), dtype=np.int64)
        for j in np.unique(cj):
            sel = cj == j
            if counts[j] == 0:
                # a coarse cell with no sample members (possible after
                # reseeding): fall back to the global fine argmin
                fm, off = fmat, 0
            else:
                fm = fmat[offsets[j]: offsets[j] + counts[j]]
                off = offsets[j]
            out[sel] = _sq_dists(m[sel], fm).argmin(1) + off
        return pd.Series(out.astype("int32"))

    assigned = pin(
        emb.select(
            F.col(id_col), F.col(vec_col), cell2(F.col(vec_col)).alias("cell")
        ),
        level=StorageLevel.MEMORY_AND_DISK,
    )
    return assigned


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int | None = None,
    min_cos: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    target_cell: int = 64,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means coarse clusters restrict the pairwise
    cosine check to within-cluster pairs, cosine>=min_cos edges are
    closed into connected components, and the minimum id of each
    component is kept as the representative.

    Returns a full manifest (id BIGINT, rep_id BIGINT, keep BOOLEAN)
    covering EVERY input row — rows in no near-dup pair keep themselves.

    Scale shape: the quantizer is fit on a bounded sample and assignment
    is one Arrow matmul pass (build_ivf_index); the pairwise check
    shuffles on cell and is quadratic only WITHIN a cell, so with a
    FIXED cluster count 10× the corpus means 10× cell occupancy and
    ~100× pairs — the same density law that made fixed-plane LSH
    super-linear in the sf1 sweep. `n_clusters=None` (default)
    therefore derives the cluster count from the corpus size so
    E[cell size] stays ~`target_cell` and pair volume stays LINEAR
    (SemDeDup runs ~100k clusters over billions of docs; at a real
    deployment pass the known cardinality as `n_rows` — e.g. from
    catalog statistics or parquet footers — so no count() pre-job runs;
    an approximate cardinality is fine, it only sets E[cell size]).
    Component closure is O(log diameter) rounds of equi-joins. Cosines
    are rounded to 6 dp before the threshold so identical vectors
    compare as exactly 1.0 — which also makes the planted-copy oracle
    independent of the derived cluster count."""
    import math

    from .components import assign_clusters

    if n_clusters is None:
        if n_rows is None:
            n_rows = emb.count()
        n_clusters = max(2, math.ceil(n_rows / target_cell))
    if n_clusters > 128:
        # derived k grows ∝ corpus size: flat nearest-of-k assignment is
        # n*k = O(n²/target_cell) flops (measured 4.2× wall at 3× data
        # in the sf3 sweep) — route coarse-then-fine at n*2√k instead
        assigned = build_twolevel_cells(
            emb, n_cells=n_clusters, id_col=id_col, vec_col=vec_col, seed=seed
        )
    else:
        assigned, _ = build_ivf_index(
            emb, n_centroids=n_clusters, id_col=id_col, vec_col=vec_col,
            seed=seed,
        )
    a = assigned.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("v"),
        "cell",
    )
    b = assigned.select(
        F.col(id_col).cast("long").alias("id_b"),
        F.col(vec_col).alias("v_b"),
        F.col("cell").alias("cell_b"),
    )
    edges = (
        a.join(b, (F.col("cell") == F.col("cell_b")) & (F.col("id") < F.col("id_b")))
        .select(
            "id", "id_b", F.round(cosine_arrow(F.col("v"), F.col("v_b")), 6).alias("cos")
        )
        .filter(F.col("cos") >= min_cos)
        .select("id", "id_b")
    )
    man = assign_clusters(
        emb.select(F.col(id_col).cast("long").alias("id")),
        edges,
        id_col="id",
        src="id",
        dst="id_b",
    )
    return man.select("id", F.col("cluster_id").alias("rep_id"), "keep")


def label_centroid_stats(
    embs: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding drift / distribution monitoring: per (label, dim) the
    EXACT micro-quantized coordinate sums plus the deviation of the
    label's mean from the global mean — the per-slice centroid table a
    pipeline diffs across snapshots to catch embedding-model or data
    drift before it poisons retrieval and dedup thresholds.

    Exactness contract: each coordinate is quantized to a BIGINT
    micro-unit (round(1e6·x) — float32 widens to double identically on
    every engine) BEFORE summation, so n_vecs/sum_micro are exact
    integers and dev_micro is ONE fixed-shape IEEE expression of exact
    integers rounded to 6 places (the value_outliers convention).

    Plan: one posexplode scan → (label, dim) partial-agg groupBy
    (|labels|·|dims| keys — map-side combine collapses the corpus), a
    |dims|-row global rollup derived from the per-label table itself
    (no second corpus scan), broadcast back. Output |labels|·|dims|
    rows, ordered.
    """
    q = lambda c: F.round(c * F.lit(1e6)).cast("long")  # noqa: E731
    per = (
        embs.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "x"),
        )
        .select("label", "dim", q(F.col("x")).alias("xq"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("xq").alias("sum_micro"),
        )
    )
    glob = per.groupBy("dim").agg(
        F.sum("n_vecs").alias("gn"),
        F.sum("sum_micro").alias("gsum"),
    )
    # + 0.0 canonicalizes IEEE negative zero (engine-parity with the
    # DuckDB oracle, whose ROUND preserves -0.0)
    dev = F.round(
        F.col("sum_micro").cast("double") / F.col("n_vecs")
        - F.col("gsum").cast("double") / F.col("gn"),
        6,
    ) + F.lit(0.0)
    return (
        per.join(F.broadcast(glob), "dim")
        .select("label", "dim", "n_vecs", "sum_micro", dev.alias("dev_micro"))
        .orderBy("label", "dim")
    )


def covariance_stats(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Exact embedding covariance (upper triangle): per dimension pair
    (i <= j), cov = (n*S_ij - S_i*S_j) / (n*(n-1)), computed over
    micro-quantized coordinates so every accumulation is integer-exact
    and the final value is one double division — the whitening/drift
    matrix a pipeline diffs across snapshots.

    Plan (100 TB): coordinates are quantized JVM-side (round half-up,
    matching the oracle), then ONE mapInPandas pass accumulates a local
    d x d int64 outer-product matrix across the WHOLE PARTITION
    (vectorized X^T X per Arrow batch, summed into one accumulator) and
    emits d(d+1)/2+d partial rows once per partition — not per batch:
    at realistic widths (d=1024 → 525k cells) building and hash-
    aggregating a cell frame per 10k-row batch dominated the wall
    (measured 30 s → 5.5 s at d=1024, sf0.1). Exactness is guarded by
    an explicit int64 budget: each batch adds rows·max|x|² to a running
    bound and the accumulator flushes early iff the NEXT batch could
    overflow 2^62 (never at parquet partition sizes — 128 MB of d=64
    micro vectors is ~250k rows ≈ 2.5e17 — the flush is the correctness
    backstop, not the steady state). A single groupBy (i, j) sums the
    per-partition partials in DECIMAL(38,0) (exact beyond int64 at
    cluster scale; map-side partial agg means shuffle volume is one
    cell set per map task either way). No shuffle ever carries a
    vector.
    """
    # local-parallelism floor (`_spread`): a small parquet can scan as
    # fewer partitions than cores, serializing the matmul onto one task
    q = _spread(emb.select(
        F.transform(
            F.col(vec_col),
            lambda v: F.round(v.cast("double") * 1e6).cast("long"),
        ).alias("x")
    ))

    def xtx_exact(X: np.ndarray) -> np.ndarray | None:
        """X^T X exactly, via BLAS: int64 matmul has no BLAS path in
        numpy (it is a naive loop — measured 350 s at d=1024, 20k
        rows), so split x = a·2^13 + b (a = x >> 13, b = x & 8191;
        exact for negatives too with floor shift) and recombine three
        float64 matmuls, each of which is integer-exact while its
        products stay under 2^53. Returns None when the row count ×
        magnitude bound can't guarantee that — caller falls back to
        the exact-but-slow int64 path."""
        n = X.shape[0]
        mx = int(np.abs(X).max(initial=0))
        ahi = (abs(mx) >> 13) + 1
        if n * max(ahi * ahi, ahi * 8192, 8192 * 8192) >= 2**53:
            return None
        A = (X >> 13).astype(np.float64)
        B = (X & 8191).astype(np.float64)
        AA = A.T @ A
        AB = A.T @ B
        BB = B.T @ B
        return (
            (AA.astype(np.int64) << 26)
            + ((AB.astype(np.int64) + AB.T.astype(np.int64)) << 13)
            + BB.astype(np.int64)
        )

    def acc(batches):
        G = s = iu = ju = None
        cnt = 0
        bound = 0
        d = 0

        def flush():
            return pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(d), [-1]]),
                    "j": np.concatenate([ju, np.full(d, -1), [-1]]),
                    "s": np.concatenate(
                        [G[iu, ju], s, [np.int64(cnt)]]
                    ),
                }
            )

        for pdf in batches:
            col = pdf["x"]
            if len(col) == 0:
                continue
            X = np.vstack(col.to_numpy())
            if X.dtype != np.int64:
                X = X.astype(np.int64)
            if G is None:
                d = X.shape[1]
                G = np.zeros((d, d), dtype=np.int64)
                s = np.zeros(d, dtype=np.int64)
                iu, ju = np.triu_indices(d)
            add = X.shape[0] * int(np.abs(X).max(initial=0)) ** 2
            if cnt and bound + add > 2**62:
                yield flush()
                G[:] = 0
                s[:] = 0
                cnt = bound = 0
            P = xtx_exact(X)
            G += P if P is not None else X.T @ X
            s += X.sum(axis=0)
            cnt += X.shape[0]
            bound += add
        if cnt:
            yield flush()

    partials = q.mapInPandas(acc, "i int, j int, s long")
    sums = partials.groupBy("i", "j").agg(
        F.sum(F.col("s").cast("decimal(38,0)")).alias("s")
    )
    n = sums.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("s").cast("decimal(38,0)").alias("n")
    )
    means = sums.where((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("mi"), F.col("s").alias("s1")
    )
    pairs = sums.where(F.col("j") >= 0)
    return (
        pairs.join(F.broadcast(means.withColumnRenamed("mi", "i")
                   .withColumnRenamed("s1", "si")), "i")
        .join(
            F.broadcast(means.withColumnRenamed("mi", "j")
                        .withColumnRenamed("s1", "sj")), "j",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (
                F.round(
                    (
                        (F.col("n") * F.col("s") - F.col("si") * F.col("sj"))
                        .cast("double")
                    )
                    / (
                        F.col("n").cast("double")
                        * (F.col("n").cast("double") - 1.0)
                    )
                    / 1e12,
                    6,
                )
                # normalize IEEE negative zero: ROUND of a tiny negative
                # value yields -0.0, which is value-equal to 0.0 but
                # renders differently across engines; +0.0 canonicalizes
                + F.lit(0.0)
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


def pca_power_top(
    emb: DataFrame,
    vec_col: str = "embedding",
    iters: int = 30,
) -> list[float]:
    """Dominant principal direction via power iteration on the exact
    covariance matrix. The covariance accumulates distributed and
    integer-exact (covariance_stats); the d x d matrix (4096 doubles at
    d=64) then iterates DRIVER-SIDE — a deliberate, bounded collect()
    of d(d+1)/2 rows, never data rows. Deterministic: starts from the
    all-ones direction and normalizes each step; sign fixed so the
    largest-|component| entry is positive. Returns the unit vector as a
    plain list (verified against numpy.linalg.eigh in tests)."""
    rows = covariance_stats(emb, vec_col).collect()
    d = max(r["j"] for r in rows) + 1
    C = np.zeros((d, d))
    for r in rows:
        C[r["i"], r["j"]] = r["cov"]
        C[r["j"], r["i"]] = r["cov"]
    v = np.ones(d) / np.sqrt(d)
    for _ in range(iters):
        w = C @ v
        nrm = np.linalg.norm(w)
        if nrm == 0:
            break
        v = w / nrm
    if v[np.argmax(np.abs(v))] < 0:
        v = -v
    return [float(x) for x in v]


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    kc: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
    cache_key=None,
) -> DataFrame:
    """IVF-PQ — the production ANN index shape (FAISS "IVF<n>,PQ<m>"
    with by_residual=False): the coarse quantizer prunes the corpus to
    `n_probe` cells per query, and ADC scores ONLY the candidates over
    their 4-byte-per-subspace codes — the float corpus is read zero
    times at search.

    Plan shape at 100 TB: the index (cell + codes per vector) is built
    once; a query batch routes via a tiny queries×centroids broadcast
    (window top-n_probe), then ONE equi-join on cell against the codes
    table (dynamic partition pruning skips unprobed cells when the
    index is at rest, see save_ivf_index), with the ADC dot tables
    riding the broadcast probe side. Per-candidate work is m
    element_at lookups in whole-stage codegen — no floats, no
    reconstruction, no cross join against the corpus.

    `cache_key` (hashable, e.g. (session, sf, tag)) memoizes the
    coarse index and the sub-codebooks via pins.memo — the
    train-once/search-many contract; both fits are deterministic."""
    assigned, centroids = memo(
        None if cache_key is None else (cache_key, "ivf", n_centroids, seed),
        lambda: build_ivf_index(
            emb, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
            seed=seed,
        ),
    )
    cents = memo(
        None if cache_key is None else (cache_key, "pq", m, kc, seed),
        lambda: pq_train(emb, vec_col=vec_col, m=m, k=kc, id_col=id_col),
    )

    def _encode():
        # encode-once: the (code, cell) table IS the index at rest —
        # re-encoding the float corpus per query batch defeats the
        # 4-byte store
        from pyspark import StorageLevel

        c = pq_codes(assigned, cents, id_col, vec_col).join(
            assigned.select(id_col, "cell"), id_col
        )
        if cache_key is not None:
            c = pin(c, "session", level=StorageLevel.MEMORY_AND_DISK)
        return c

    codes = memo(
        # the codes are a function of the ASSIGNMENT too: key them by the
        # full coarse-index identity, or a second call with different
        # n_centroids/seed would reuse codes bound to stale cells
        None if cache_key is None
        else (cache_key, "pqcodes", m, kc, n_centroids, seed),
        _encode,
    )

    # ---- route, with each probe row carrying the query's dot tables
    probes = _route(
        queries, centroids, n_probe, query_id_col, query_vec_col
    ).select(
        query_id_col, "cell",
        _dot_table_udf(cents)(F.col(query_vec_col)).alias("_dt"),
        norm(F.col(query_vec_col)).alias("_qn"),
    )

    # ---- ADC over candidates only (pq_topk's scoring expressions)
    mq, nk, dsub = cents.shape
    flat = cents.reshape(mq * nk, dsub)
    rnorm2 = (flat * flat).sum(1).reshape(mq, nk)
    n2_tab = F.array(*[
        F.array(*[F.lit(float(x)) for x in rnorm2[s]]) for s in range(mq)
    ])
    num = _adc_sum(F.col("_dt"))
    rn = F.sqrt(_adc_sum(n2_tab))
    scored = codes.join(F.broadcast(probes), "cell").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            F.when((rn > 0) & (F.col("_qn") > 0), num / (rn * F.col("_qn")))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("pq_cos"),
    )
    return _topk(scored, query_id_col, "pq_cos", k, id_col)


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each anchor, the k most-similar corpus vectors whose label DIFFERS
    from the anchor's — the negatives that actually move a contrastive
    loss (random negatives are trivially separable). Exact cosine over
    the label-filtered corpus; ties break on id.

    Scale shape: this is the exact baseline (one broadcast of the
    bounded anchor batch over a corpus scan — the same contract as
    brute_force_topk); at 10^9 vectors mine through the IVF-PQ index
    instead (route → cell equi-join → ADC) and apply the same label
    predicate to the candidate set before the top-k window."""
    joined = emb.crossJoin(F.broadcast(queries)).where(
        F.col(label_col) != F.col(query_label_col)
    )
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col),
        F.col(label_col),
        F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias("cos"),
    )
    return _topk(scored, query_id_col, "cos", k, id_col)


def sampled_negatives(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    salt: str = "neg1",
    id_col: str = "vec_id",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Deterministic uniform negative sampling — the random-negative
    baseline next to hard_negatives: for each anchor, k corpus items
    with a DIFFERENT label chosen by an engine-portable md5 race over
    (anchor, candidate, salt). Deterministic across engines, partitions
    and reruns (the property `rand()` cannot give), so the sample is
    reproducible training data, not a lottery. Returns
    (query_id, vec_id, label, rank).

    Scale shape: candidate ranking is a per-anchor window over the
    label-filtered (anchor × corpus) relation — exact baseline for
    bounded anchor batches; at 10^9 items sample within the anchor's
    IVF cell complement or pre-bucket candidates by md5 prefix so the
    race runs on a hash-bounded slice."""
    pairs = emb.select(
        F.col(id_col), F.col(label_col)
    ).crossJoin(F.broadcast(queries.select(query_id_col, query_label_col)))
    pairs = pairs.where(F.col(label_col) != F.col(query_label_col))
    u = F.conv(
        F.substring(
            F.md5(F.concat(
                F.col(query_id_col).cast("string"), F.lit("-"),
                F.col(id_col).cast("string"), F.lit("-" + salt),
            )), 1, 8,
        ), 16, 10,
    ).cast("long")
    return _topk(pairs, query_id_col, u, k, id_col, desc=False).select(
        query_id_col, id_col, label_col, F.col("rank").cast("int").alias("rank")
    )


def ivfpq_residual_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    kc: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
    cache_key=None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL quantization and inner-product ADC — the
    FAISS default composition (by_residual=True): sub-codebooks are
    trained on v − centroid(cell(v)), which concentrates the
    quantizer's budget on within-cell variation (finer codes than raw
    PQ at equal bits). Scoring decomposes exactly:

        q · v̂ = q · centroid(cell) + Σ_s q_s · codebook_s[code_s]

    so the probe table carries the per-(query, cell) constant q·c and
    the per-query residual dot tables; the corpus side touches only
    its codes — same one-equi-join plan shape as ivfpq_topk, still no
    floats at search. Ranking metric is inner product (the metric this
    decomposition is exact for; cosine would need per-(cell, code)
    cross-norm tables).

    `cache_key` memoizes the coarse index AND the residual
    codebooks + encoded (code, cell) table (same train-once/
    encode-once contract as ivfpq_topk); all fits are deterministic
    functions of the cached assignment."""
    from pyspark import StorageLevel

    assigned, centroids = memo(
        None if cache_key is None else (cache_key, "ivf", n_centroids, seed),
        lambda: build_ivf_index(
            emb, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
            seed=seed,
        ),
    )
    crows = centroids.orderBy("cell").collect()
    cmat = np.asarray([r["centroid"] for r in crows], dtype=np.float64)

    @F.pandas_udf("array<double>")
    def _residual(v: pd.Series, cell: pd.Series) -> pd.Series:
        arr = np.asarray([np.asarray(a, dtype=np.float64) for a in v])
        if arr.size == 0:
            return pd.Series([], dtype="object")
        out = arr - cmat[cell.to_numpy()]
        return pd.Series(list(out))

    def _fit_residual_index():
        # residualize + train + encode once: all three are downstream
        # of the cached assignment and deterministic, and the (code,
        # cell) table is the index at rest. The residuals are read only
        # while the codes are built, so they pin in the call scope.
        resid = pin(
            assigned.select(
                F.col(id_col), F.col("cell"),
                _residual(F.col(vec_col), F.col("cell")).alias("resid"),
            ),
            level=StorageLevel.MEMORY_AND_DISK,
        )
        cents_ = pq_train(resid, vec_col="resid", m=m, k=kc, id_col=id_col)
        codes_ = pq_codes(resid, cents_, id_col, "resid").join(
            resid.select(id_col, "cell"), id_col
        )
        if cache_key is not None:
            codes_ = pin(codes_, "session", level=StorageLevel.MEMORY_AND_DISK)
        return cents_, codes_

    cents, codes = memo(
        None if cache_key is None
        else (cache_key, "respq", m, kc, n_centroids, seed),
        _fit_residual_index,
    )

    probes = _route(
        queries, centroids, n_probe, query_id_col, query_vec_col
    ).select(
        query_id_col, "cell",
        dot(F.col(query_vec_col), F.col("centroid")).alias("_qc"),
        _dot_table_udf(cents)(F.col(query_vec_col)).alias("_dt"),
    )
    ip = F.col("_qc") + _adc_sum(F.col("_dt"))
    scored = codes.join(F.broadcast(probes), "cell").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(ip, 6).alias("pq_ip"),
    )
    return _topk(scored, query_id_col, "pq_ip", k, id_col)


def binary_sign_codes(
    vec, dim: int = 64, prefix: str = "bq"
) -> list[Column]:
    """Binary (sign) quantization of an embedding: bit i is 1 iff
    component i >= 0, packed into 32-bit half-words stored as BIGINT
    (`{prefix}_w0`, `{prefix}_w1`, ...). 32 bits per word keeps every
    value positive and portable (a 64-bit pack would need bit 63, which
    both engines reject / sign-flip on shift).

    The pack is a pure JVM expression (aggregate over a sequence of
    exact 2^i terms — each bit is added once, so SUM == bit-OR); at
    100 TB it runs at scan speed inside whole-stage codegen and turns
    a 256-byte float vector into 8 bytes per 64 dims — the compression
    that makes a billion-vector first-stage scan shuffle-light."""
    v = _c(vec)

    def _word(base: int, hi: int):
        def _merge(acc, i):
            return acc + F.when(
                F.element_at(v, i + base + 1) >= 0,
                F.pow(F.lit(2.0), i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(hi)),
            F.lit(0).cast("long"),
            _merge,
        )

    words = []
    for w in range((dim + 31) // 32):
        base = 32 * w
        words.append(
            _word(base, min(31, dim - base - 1)).alias(f"{prefix}_w{w}")
        )
    return words


def binary_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Two-stage retrieval with 1-bit vectors: Hamming distance over
    sign codes selects a `shortlist` of candidates per query (tiebreak
    on id), then exact cosine reranks the shortlist to top-k. Returns
    (query_id, vec_id, hamming, cos, rank).

    Scale shape (100 TB / 10^9 vectors): stage 1 touches ONLY the
    8-byte-per-64-dim code column — a scan-speed bit_count(xor) per
    (query, code) against a broadcast query batch, no Python, no float
    math, and the full-width vectors never move. Stage 2 fetches the
    |queries| x shortlist survivors' float vectors by id equi-join —
    the only rows whose 256-byte payload crosses the wire. This is the
    standard binary-quantization first stage (sign codes retain cosine
    order well for zero-centered embeddings); recall is gated by the
    embed_binary_recall oracle rather than assumed."""
    n_words = (dim + 31) // 32
    codes = emb.select(
        F.col(id_col), *binary_sign_codes(F.col(vec_col), dim=dim)
    )
    qcodes = queries.select(
        F.col(query_id_col),
        *binary_sign_codes(F.col(query_vec_col), dim=dim, prefix="qq"),
    )
    ham = None
    for w in range(n_words):
        t = F.bit_count(
            F.col(f"bq_w{w}").bitwiseXOR(F.col(f"qq_w{w}"))
        )
        ham = t if ham is None else ham + t
    cand = (
        codes.crossJoin(F.broadcast(qcodes))
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            ham.cast("int").alias("hamming"),
        )
    )
    # two-phase shortlist: a per-query window alone would sort the
    # WHOLE code table in one partition per query — salt first, take
    # the per-salt shortlist (exact: the global best-`shortlist` are
    # among every salt's best-`shortlist`), then rank the bounded
    # 32*shortlist survivors
    cand = cand.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(32))
    )
    ws_local = Window.partitionBy(query_id_col, "_salt").orderBy(
        F.col("hamming").asc(), F.col(id_col).asc()
    )
    cand = cand.withColumn(
        "_lrnk", F.row_number().over(ws_local)
    ).filter(F.col("_lrnk") <= shortlist)
    short = _topk(
        cand, query_id_col, "hamming", shortlist, id_col,
        desc=False, rank_col="srank",
    ).drop("_salt", "_lrnk")
    rer = short.join(
        emb.select(F.col(id_col), F.col(vec_col)), id_col
    ).join(
        F.broadcast(
            queries.select(F.col(query_id_col), F.col(query_vec_col))
        ),
        query_id_col,
    )
    scored = rer.select(
        query_id_col,
        id_col,
        "hamming",
        F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias(
            "cos"
        ),
    )
    return _topk(scored, query_id_col, "cos", k, id_col)


# --------------------------------------- engine-portable (integer) ANN twins
# Deterministic, oracle-verifiable variants of the ANN paths: every
# score derives from micro-quantized INTEGER vectors (round(x*1e6) as
# long), so dot products and squared norms are exact integers < 2^53 in
# both engines and cosine = dot/(sqrt(na)*sqrt(nb)) is the same
# bit-identical double on Spark and DuckDB (each IEEE op correctly
# rounded over identical operands, identical op order). The coarse
# quantizer is hash-seeded data selection (smallest md5(vec_id) rows),
# not k-means — a legitimate IVF coarse quantizer (FAISS random init)
# whose fit a SQL oracle can reproduce verbatim. The k-means production
# paths keep their own gates (embed_ivf_full_probe == exact top-k,
# embed_ivf_probe_recall planted copies).

_Q_SCALE = 1_000_000


def quantize_vec(v) -> Column:
    """Micro-quantized integer vector: round(x·1e6) per component (the
    repo's standard cross-engine quantization, memory: ROUND(x*1eN)
    CAST BIGINT on both sides)."""
    return F.transform(
        _c(v), lambda x: F.round(x.cast("double") * _Q_SCALE).cast("long")
    )


def int_dot(a, b) -> Column:
    """Exact integer dot product of two quantized vectors (components
    ≤ ~2^21, 64-dim → sums < 2^48: no overflow, exact in double too)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _int_cos(dot_col, na_col, nb_col) -> Column:
    """cos = dot/(sqrt(na)·sqrt(nb)) with the EXACT op order the DuckDB
    oracle uses — bit-identical doubles from identical integer inputs.
    Zero-norm vectors score 0.0 (the `cosine` contract)."""
    return F.when(
        (na_col > 0) & (nb_col > 0),
        dot_col.cast("double") / (F.sqrt(na_col) * F.sqrt(nb_col)),
    ).otherwise(F.lit(0.0))


def seeded_ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed_salt: str = "-ivfseed",
) -> DataFrame:
    """IVF top-k with a hash-seeded coarse quantizer: centroids are the
    n_centroids corpus vectors with smallest (md5(id||salt), id) —
    distributed TakeOrdered, no iterative fit — vectors assign to their
    max-cosine centroid, queries probe their n_probe nearest cells,
    exact integer-cosine re-rank inside probed cells. Every step is
    deterministic and SQL-expressible, so partial-probe results are
    hash-verifiable (the k-means IVF's partial probe is model-dependent
    and only planted-recall-checkable). Plan: one TakeOrdered(16), two
    broadcast joins against the 16-row centroid table, one equi-join on
    cell, one per-query top-k window — no shuffle grows with corpus²."""
    e = emb.select(
        F.col(id_col).alias("vid"),
        quantize_vec(F.col(vec_col)).alias("qv"),
    ).select("vid", "qv", int_dot("qv", "qv").alias("nv"))
    seeded = e.withColumn(
        "_h",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("vid").cast("string"), F.lit(seed_salt))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )
    cents = seeded.orderBy("_h", "vid").limit(n_centroids)
    cents = cents.select(
        F.row_number()
        .over(Window.orderBy("_h", "vid"))
        .alias("crank"),
        F.col("qv").alias("cqv"),
        F.col("nv").alias("cnv"),
    )
    cents = F.broadcast(cents)

    def _cell_rank(side: DataFrame, vid: str):
        cos = _int_cos(int_dot("qv", "cqv"), F.col("nv"), F.col("cnv"))
        w = Window.partitionBy(vid).orderBy(
            cos.desc(), F.col("crank").asc()
        )
        return (
            side.crossJoin(cents)
            .withColumn("_rn", F.row_number().over(w))
        )

    assigned = (
        _cell_rank(e, "vid")
        .filter(F.col("_rn") == 1)
        .select("vid", "qv", "nv", F.col("crank").alias("cell"))
    )
    q = queries.select(
        F.col(query_id_col).alias("qid"),
        quantize_vec(F.col(query_vec_col)).alias("qv"),
    ).select("qid", "qv", int_dot("qv", "qv").alias("nv"))
    probes = (
        _cell_rank(q, "qid")
        .filter(F.col("_rn") <= n_probe)
        .select(
            "qid",
            F.col("qv").alias("qqv"),
            F.col("nv").alias("qnv"),
            F.col("crank").alias("cell"),
        )
    )
    cand = probes.join(assigned, "cell").filter(F.col("vid") != F.col("qid"))
    cos = _int_cos(int_dot("qqv", "qv"), F.col("qnv"), F.col("nv"))
    return _topk(cand.withColumn("_cos", cos), "qid", "_cos", k, "vid").select(
        F.col("qid").alias(query_id_col),
        F.col("vid").alias(id_col),
        F.round(F.col("_cos") * _Q_SCALE).cast("long").alias("cos_u6"),
        F.col("rank").cast("int").alias("rank"),
    )


def seeded_ivf_oracle_sql(
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 5,
    query_pred: str = "vec_id < 5",
    seed_salt: str = "-ivfseed",
) -> str:
    """DuckDB oracle for seeded_ivf_topk over the embeddings table: the
    identical hash-seeded centroids, integer dots (exact through
    list_inner_product on exact-integer doubles), same cosine op order,
    same tie-breaks."""
    return f"""
    WITH e AS (
      SELECT vec_id,
             CAST(list_transform(embedding,
                  x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                  AS DOUBLE[]) AS qvd
      FROM embeddings
    ),
    e2 AS (
      SELECT vec_id, qvd, list_inner_product(qvd, qvd) AS nv FROM e
    ),
    seeded AS (
      SELECT *, CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                   || '{seed_salt}'), 1, 15)) AS BIGINT) AS h
      FROM e2
    ),
    c AS (
      SELECT row_number() OVER (ORDER BY h, vec_id) AS crank,
             qvd AS cqv, nv AS cnv
      FROM (SELECT * FROM seeded ORDER BY h, vec_id LIMIT {n_centroids})
    ),
    asg AS (
      SELECT vec_id, qvd, nv, crank AS cell FROM (
        SELECT e2.vec_id, e2.qvd, e2.nv, c.crank,
               row_number() OVER (PARTITION BY e2.vec_id ORDER BY
                 CASE WHEN e2.nv > 0 AND c.cnv > 0
                      THEN list_inner_product(e2.qvd, c.cqv)
                           / (sqrt(e2.nv) * sqrt(c.cnv))
                      ELSE 0.0 END DESC, c.crank) AS rn
        FROM e2 CROSS JOIN c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT qid, qqv, qnv, cell FROM (
        SELECT q.vec_id AS qid, q.qvd AS qqv, q.nv AS qnv,
               c.crank AS cell,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 CASE WHEN q.nv > 0 AND c.cnv > 0
                      THEN list_inner_product(q.qvd, c.cqv)
                           / (sqrt(q.nv) * sqrt(c.cnv))
                      ELSE 0.0 END DESC, c.crank) AS rn
        FROM (SELECT * FROM e2 WHERE {query_pred}) q CROSS JOIN c
      ) WHERE rn <= {n_probe}
    ),
    cand AS (
      SELECT p.qid, a.vec_id,
             CASE WHEN p.qnv > 0 AND a.nv > 0
                  THEN list_inner_product(p.qqv, a.qvd)
                       / (sqrt(p.qnv) * sqrt(a.nv))
                  ELSE 0.0 END AS cos
      FROM probes p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
    ),
    ranked AS (
      SELECT qid, vec_id, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, vec_id) AS rank
      FROM cand
    )
    SELECT qid AS query_id, vec_id,
           CAST(ROUND(cos * 1000000) AS BIGINT) AS cos_u6,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """


def _rademacher_signs(n_planes: int = 16, dim: int = 64, seed: int = 7):
    """±1 hyperplane sign matrix, rng(seed) — shared by the Spark plan
    and the generated oracle SQL (embedded as literals)."""
    rng = np.random.default_rng(seed)
    return (rng.integers(0, 2, size=(n_planes, dim)) * 2 - 1).astype(int)


def rademacher_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    dim: int = 64,
    bands: int = 2,
    min_cos_u6: int = 900_000,
    seed: int = 7,
) -> DataFrame:
    """Embedding near-dup pairs via Rademacher (±1) hyperplane LSH over
    micro-quantized integer vectors + exact integer-cosine verify. Sign
    projections are exact integer sums, so bucket keys — and therefore
    the candidate set — are deterministic and engine-portable (the
    gaussian-plane production twin embedding_near_dup_pairs keeps its
    planted recall gate). Bands of n_planes/bands bits are separate
    bucket tables unioned before verify (minhash band structure: recall
    ↑ with bands, candidates stay hash-blocked). Output: (id_a, id_b,
    cos_u6 ≥ min_cos_u6)."""
    signs = _rademacher_signs(n_planes, dim, seed)
    width = n_planes // bands
    e = emb.select(
        F.col(id_col).alias("id"),
        quantize_vec(F.col(vec_col)).alias("qv"),
    ).select("id", "qv", int_dot("qv", "qv").alias("nv"))

    # ALL plane projections as ONE parsed expression: building 16
    # per-plane int_dot trees out of 64 F.lit() calls each cost ~2k
    # py4j round-trips PER INVOCATION (measured ~3s of the query's
    # build time); a single F.expr parses once. The arithmetic is
    # byte-for-byte int_dot's (zip_with x*y, aggregate 0L, acc+v over
    # BIGINT literals), so every projection — and therefore every band
    # key, candidate pair and verify cosine — is unchanged.
    sign_rows = ", ".join(
        "array(" + ", ".join(f"{int(s)}L" for s in signs[p]) + ")"
        for p in range(n_planes)
    )
    projs = F.expr(
        f"transform(array({sign_rows}), "
        "s -> aggregate(zip_with(qv, s, (x, y) -> x * y), 0L, "
        "(acc, v) -> acc + v))"
    )
    e = e.withColumn("_projs", projs)
    # each band key is one parsed expression too (as Column calls it
    # took about 160 py4j round trips): bit j of band b is projection
    # b*width+j > 0, OR-folded from 0L
    band_keys = [
        F.expr("CAST(0 AS BIGINT)" + "".join(
            f" | shiftleft(CASE WHEN element_at(_projs, {b * width + j + 1}) > 0"
            f" THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, {j})"
            for j in range(width)
        ))
        for b in range(bands)
    ]
    keyed = LSH.band_rows(e, band_keys).drop("_projs")
    cos = _int_cos(int_dot("qv", "qv_b"), F.col("nv"), F.col("nv_b"))
    return LSH.band_pairs(
        keyed,
        F.round(cos * _Q_SCALE).cast("long").alias("cos_u6"),
        F.col("cos_u6") >= min_cos_u6,
    )


def rademacher_near_dups_oracle_sql(
    n_planes: int = 16,
    dim: int = 64,
    bands: int = 2,
    min_cos_u6: int = 900_000,
    seed: int = 7,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
) -> str:
    """DuckDB oracle for rademacher_near_dups: identical ±1 sign
    literals, integer projections, band keys, pair join, and
    integer-cosine verify. `source_sql` must yield (vec_id, embedding)
    — callers that plant copies pass the planted union here."""
    signs = _rademacher_signs(n_planes, dim, seed)
    width = n_planes // bands

    def _band_key(b: int) -> str:
        bits = []
        for j in range(width):
            arr = (
                "["
                + ",".join(f"{int(s)}.0" for s in signs[b * width + j])
                + "]"
            )
            bits.append(
                f"(CASE WHEN list_inner_product(qvd, {arr}) > 0 "
                f"THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
            )
        return " + ".join(bits)

    key_rows = ",\n        ".join(
        f"({b}, {_band_key(b)})" for b in range(bands)
    )
    return f"""
    WITH src AS ({source_sql}),
    e AS (
      SELECT vec_id AS id,
             CAST(list_transform(embedding,
                  x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                  AS DOUBLE[]) AS qvd
      FROM src
    ),
    e2 AS (SELECT id, qvd, list_inner_product(qvd, qvd) AS nv FROM e),
    keyed AS (
      SELECT id, qvd, nv, kb.band, kb.bkey
      FROM e2, LATERAL (VALUES
        {key_rows}
      ) kb(band, bkey)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM keyed a JOIN keyed b
        ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
    ),
    v AS (
      SELECT c.id_a, c.id_b,
             CASE WHEN ea.nv > 0 AND eb.nv > 0
                  THEN list_inner_product(ea.qvd, eb.qvd)
                       / (sqrt(ea.nv) * sqrt(eb.nv))
                  ELSE 0.0 END AS cos
      FROM cand c
      JOIN e2 ea ON ea.id = c.id_a
      JOIN e2 eb ON eb.id = c.id_b
    )
    SELECT id_a, id_b, CAST(ROUND(cos * 1000000) AS BIGINT) AS cos_u6
    FROM v WHERE CAST(ROUND(cos * 1000000) AS BIGINT) >= {min_cos_u6}
    ORDER BY id_a, id_b
    """
