"""Similarity-search operators: exact top-k vs LSH, IVF, SQ8, PQ and
binary recall, the shared k-means fit, covariance/PCA, and AST guards
that keep one top-k window and one Lloyd loop in operators/similarity.py."""

import ast
import pathlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from mobilityduck_spark import pins
from mobilityduck_spark.operators import similarity as SIM
from mobilityduck_spark.sources import tables as SRC

SF = "/root/testdata/sf0.001"


def _setup(spark):
    emb = SRC.load(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return emb, queries


def _pairs(df):
    return {(r["query_id"], r["vec_id"]) for r in df.collect()}


def test_brute_force_topk_shape(spark):
    emb, q = _setup(spark)
    bf = SIM.brute_force_topk(emb, q, k=5)
    rows = bf.collect()
    assert len(rows) == 25
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos"]))
    for ranks in by_q.values():
        ranks.sort()
        assert [r for r, _ in ranks] == [1, 2, 3, 4, 5]
        cs = [c for _, c in ranks]
        assert cs == sorted(cs, reverse=True)


def test_ivf_recall_vs_exact(spark):
    emb, q = _setup(spark)
    exact = _pairs(SIM.brute_force_topk(emb, q, k=5))
    assigned, centroids = SIM.build_ivf_index(emb, n_centroids=8)
    ivf = _pairs(SIM.ivf_search(assigned, centroids, q, k=5, n_probe=4))
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # full probe = exact
    ivf_full = _pairs(SIM.ivf_search(assigned, centroids, q, k=5, n_probe=8))
    assert ivf_full == exact
    pins.release()


def test_ivf_index_many_centroids(spark):
    # plan size must stay O(1) in n_centroids (centroid TABLE, not
    # literal arrays) — 256 cells on the sf0.001 table must just work
    emb, q = _setup(spark)
    assigned, centroids = SIM.build_ivf_index(emb, n_centroids=256, max_iter=5)
    assert centroids.count() == 256
    out = SIM.ivf_search(assigned, centroids, q, k=3, n_probe=8)
    rows = out.collect()
    assert rows and all(r["rank"] <= 3 for r in rows)
    plan = str(out._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan
    pins.release(session=True)


def test_lsh_topk_subset_of_universe(spark):
    emb, q = _setup(spark)
    lsh = SIM.lsh_topk(emb, q, k=5, dim=64, n_planes=6)
    rows = lsh.collect()
    assert all(r["rank"] <= 5 for r in rows)


def test_ivf_index_save_load_roundtrip(spark, tmp_path):
    """A saved+reloaded IVF index must return identical search results,
    and the at-rest layout must be cell-partitioned for pruning."""
    import os

    from pyspark.sql import functions as F

    emb = SRC.load(spark, SF, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assigned, centroids = SIM.build_ivf_index(emb, n_centroids=8)
    before = sorted(
        (r["query_id"], r["vec_id"], r["cos"], r["rank"])
        for r in SIM.ivf_search(assigned, centroids, queries_df, k=5,
                                n_probe=3).collect()
    )
    path = str(tmp_path / "ivf_index")
    SIM.save_ivf_index(assigned, centroids, path)
    # cell-partitioned directory layout (hive-style cell=N)
    parts = [d for d in os.listdir(f"{path}/assignments")
             if d.startswith("cell=")]
    assert len(parts) >= 2
    a2, c2 = SIM.load_ivf_index(spark, path)
    after = sorted(
        (r["query_id"], r["vec_id"], r["cos"], r["rank"])
        for r in SIM.ivf_search(a2, c2, queries_df, k=5, n_probe=3).collect()
    )
    assert before == after
    pins.release(session=True)


def test_sq8_codes_bounds_and_roundtrip(spark):
    emb, _ = _setup(spark)
    lo, hi = SIM.sq8_train(emb)
    codes_df = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        SIM.sq8_codes(F.col("embedding"), lo, hi).alias("c"),
        SIM.sq8_dequantize(
            SIM.sq8_codes(F.col("embedding"), lo, hi), lo, hi
        ).alias("deq"),
    )
    row = codes_df.select(
        F.min(F.array_min("c")).alias("cmin"),
        F.max(F.array_max("c")).alias("cmax"),
        F.max(
            F.array_max(
                F.zip_with(
                    F.col("v"),
                    F.col("deq"),
                    lambda a, b: F.abs(a.cast("double") - b),
                )
            )
        ).alias("max_err"),
    ).collect()[0]
    assert 0 <= row["cmin"] and row["cmax"] <= 255
    # reconstruction error bounded by half a quantization step per dim
    max_step = max((h - l) / 255.0 for h, l in zip(hi, lo))
    assert row["max_err"] <= max_step / 2 + 1e-9


def test_sq8_topk_recall_vs_exact(spark):
    emb, q = _setup(spark)
    exact = _pairs(SIM.brute_force_topk(emb, q, k=5))
    quant = _pairs(SIM.sq8_topk(emb, q, k=5))
    recall = len(exact & quant) / len(exact)
    # 8-bit asymmetric quantization on 64-dim vectors barely moves
    # neighbor ranks; well above any useful threshold
    assert recall >= 0.8, f"SQ8 recall {recall}"


def test_pq_codes_in_range_and_deterministic(spark):
    from mobilityduck_spark.operators import similarity as SIM
    from mobilityduck_spark.sources import tables as SRC

    emb = SRC.load(spark, "/root/testdata/sf0.001", "embeddings")
    cents = SIM.pq_train(emb, m=8, k=16)
    assert cents.shape == (8, 16, 8)
    cents2 = SIM.pq_train(emb, m=8, k=16)
    import numpy as np

    assert np.array_equal(cents, cents2)
    rows = SIM.pq_codes(emb, cents).collect()
    assert all(
        len(r["codes"]) == 8 and all(0 <= c < 16 for c in r["codes"])
        for r in rows
    )


def test_pq_adc_matches_numpy_reconstruction_cosine(spark):
    """The JVM-expression ADC score (per-query broadcast dot/norm
    tables over the codes column) must equal cosine(q, recon(v))
    computed independently in numpy from the same codes — pins both the
    table construction and the zip_with/element_at scoring path."""
    import numpy as np

    from mobilityduck_spark.operators import similarity as SIM
    from mobilityduck_spark.sources import tables as SRC
    from pyspark.sql import functions as F

    emb = SRC.load(spark, "/root/testdata/sf0.001", "embeddings").limit(60)
    cents = SIM.pq_train(emb, m=8, k=16)
    codes = {r["vec_id"]: r["codes"] for r in SIM.pq_codes(emb, cents).collect()}
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    qid = sorted(vecs)[3]
    qdf = emb.filter(F.col("vec_id") == qid).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {
        r["vec_id"]: r["pq_cos"]
        for r in SIM.pq_topk(emb, qdf, cents, k=1000).collect()
    }
    q = vecs[qid]
    qn = np.sqrt((q * q).sum())
    dsub = 8
    for vid, cs in codes.items():
        recon = np.concatenate([cents[s][cs[s]] for s in range(8)])
        rn = np.sqrt((recon * recon).sum())
        want = float(q @ recon / (qn * rn)) if rn > 0 and qn > 0 else 0.0
        assert abs(got[vid] - round(want, 6)) < 2e-6, (vid, got[vid], want)


def test_pq_exact_copy_shares_codes(spark):
    from mobilityduck_spark.operators import similarity as SIM
    from mobilityduck_spark.sources import tables as SRC
    from pyspark.sql import functions as F

    emb = SRC.load(spark, "/root/testdata/sf0.001", "embeddings")
    plants = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(plants)
    cents = SIM.pq_train(both, m=8, k=16)
    rows = {r["vec_id"]: tuple(r["codes"])
            for r in SIM.pq_codes(both, cents).collect()}
    for vid, cs in rows.items():
        if vid < 1_000_000:
            assert rows[vid + 1_000_000] == cs


def test_semantic_dedup_single_cluster_matches_union_find(spark):
    """With n_clusters=1 the within-cluster check is ALL pairs, so the
    manifest must exactly equal an independent numpy union-find over
    every pair with round(cos, 6) >= threshold — verifies the edge
    threshold and the component closure with no clustering
    approximation in the way."""
    import numpy as np

    emb = SRC.load(spark, SF, "embeddings").filter(F.col("vec_id") < 200)
    thr = 0.15  # low threshold so random 64-dim draws DO form real edges
    got = {
        r["id"]: (r["rep_id"], r["keep"])
        for r in SIM.semantic_dedup(emb, n_clusters=1, min_cos=thr).collect()
    }

    rows = sorted(
        (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        for r in emb.collect()
    )
    ids = [i for i, _ in rows]
    m = np.stack([v for _, v in rows])
    nrm = np.linalg.norm(m, axis=1)
    cos = np.round((m @ m.T) / np.outer(nrm, nrm), 6)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_edges = 0
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if cos[a, b] >= thr:
                n_edges += 1
                ra, rb = find(ids[a]), find(ids[b])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    assert n_edges > 0, "threshold produced no edges — test is vacuous"
    exp = {i: (find(i), find(i) == i) for i in ids}
    assert got == exp


def test_semantic_dedup_planted_copies_production_threshold(spark):
    """The production path (n_clusters>1, min_cos=0.95): planted exact
    copies must be dropped onto their originals; the manifest covers
    every row exactly once; keep <=> id == rep_id."""
    emb = SRC.load(spark, SF, "embeddings")
    sel = emb.filter(F.col("vec_id") % 10 == 0)
    copies = sel.withColumn("vec_id", F.col("vec_id") + F.lit(1000000))
    man = SIM.semantic_dedup(
        emb.unionByName(copies), n_clusters=8, min_cos=0.95
    ).collect()
    n_in = emb.count() + copies.count()
    assert len(man) == n_in
    by_id = {r["id"]: r for r in man}
    for r in man:
        assert r["keep"] == (r["id"] == r["rep_id"])
        assert r["rep_id"] <= r["id"]
    for r in sel.collect():
        plant = by_id[r["vec_id"] + 1000000]
        assert not plant["keep"] and plant["rep_id"] == r["vec_id"]


def _distinct_plus_copies(n: int) -> np.ndarray:
    """n distinct 8-d points, then 120 copies of the first: k=n Lloyd
    from a random init empties several cells in one iteration."""
    base = np.random.RandomState(0).randn(n, 8) * 10.0
    return np.vstack([base, np.repeat(base[:1], 120, axis=0)])


def test_pq_train_reseeds_empty_clusters_distinctly(spark):
    """When several clusters go empty in the same Lloyd iteration, each
    must be reseeded with a DISTINCT farthest point — a shared argmax
    would leave duplicate centroids wasting codebook capacity. Forced
    here: k=8 on 8 distinct points + many repeats of one point means
    initial sampling usually empties multiple clusters."""
    import numpy as np

    from mobilityduck_spark.operators import similarity as SIM

    class _FakeDF:
        def __init__(self, x):
            self._x = x

        def select(self, *a):
            return self

        def sort(self, *a):
            return self

        def limit(self, n):
            return self

        def collect(self):
            return [{"_id": i, "_v": v} for i, v in enumerate(self._x)]

    x = _distinct_plus_copies(8)
    cents = SIM.pq_train(_FakeDF(x.tolist()), m=1, k=8)
    c = np.round(cents[0], 9)
    uniq = np.unique(c, axis=0)
    # all 8 distinct source points are representable: no duplicated
    # centroid rows may remain after convergence
    assert len(uniq) == 8, c


def test_build_ivf_index_reseeds_empty_cells_distinctly(spark):
    """The IVF coarse quantizer shares pq_train's fit: 16 distinct
    points among 136 rows must yield 16 distinct centroids (a shared
    farthest-point argmax leaves 10 here: seed 42, 8 iterations)."""
    x = _distinct_plus_copies(16)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(x)],
        "vec_id bigint, embedding array<double>",
    )
    _, centroids = SIM.build_ivf_index(emb, n_centroids=16)
    c = np.asarray([r["centroid"] for r in centroids.collect()])
    pins.release()
    assert len(np.unique(np.round(c, 9), axis=0)) == 16, c


def test_semantic_dedup_twolevel_planted_copies(spark):
    """Force the two-level (coarse->fine) assignment branch (derived
    k > 128) and require every planted exact copy to resolve to its
    original: routing is a deterministic function of the vector, so
    identical vectors must share a cell regardless of the hierarchy."""
    import pyspark.sql.functions as F

    from mobilityduck_spark.operators import similarity as SIM
    from mobilityduck_spark.sources import tables as SRC

    emb = SRC.load(spark, "/root/testdata/sf0.01", "embeddings")
    copies = emb.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    man = SIM.semantic_dedup(emb.unionByName(copies), n_clusters=200)
    planted = {
        r.id: (r.rep_id, r.keep)
        for r in man.collect()
        if r.id >= 1_000_000
    }
    assert len(planted) == emb.count()
    assert all(
        rep == pid - 1_000_000 and not keep
        for pid, (rep, keep) in planted.items()
    )


def test_lsh_signature_rejects_non_finite_planes(monkeypatch):
    """A NaN plane coefficient would render as `nanD`, which Spark
    parses as a column name and reports far from its cause."""
    monkeypatch.setattr(
        SIM, "_planes", lambda dim, n, seed=42: [[float("nan")] * dim] * n
    )
    with pytest.raises(ValueError, match="non-finite"):
        SIM.lsh_signature(F.col("v"), dim=4, n_planes=2)


def test_binary_codes_planted_copy_hamming_zero(spark):
    """An exact copy of the query vector must have Hamming distance 0
    to it and therefore always enter the shortlist and rerank to the
    top cosine slot."""
    emb = SRC.load(spark, SF, "embeddings")
    plant = emb.filter(F.col("vec_id") == 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(plant)
    q = emb.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    top = SIM.binary_topk(corpus, q, k=3, shortlist=8).collect()
    first = [r for r in top if r.rank == 1][0]
    assert first.vec_id == 1_000_003
    assert first.hamming == 0
    assert first.cos == 1.0


def test_binary_topk_full_shortlist_equals_exact(spark):
    """With shortlist >= |corpus| the Hamming stage prunes nothing, so
    the rerank must reproduce the exact brute-force top-k verbatim."""
    emb = SRC.load(spark, SF, "embeddings").limit(60)
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    bt = {
        (r.query_id, r.rank): r.vec_id
        for r in SIM.binary_topk(emb, q, k=5, shortlist=100).collect()
    }
    ex = {
        (r.query_id, r.rank): r.vec_id
        for r in SIM.brute_force_topk(emb, q, k=5).collect()
    }
    assert bt == ex


def test_binary_codes_match_numpy_pack(spark):
    emb = SRC.load(spark, SF, "embeddings").limit(10)
    rows = emb.select(
        "vec_id", "embedding", *SIM.binary_sign_codes(F.col("embedding"))
    ).collect()
    for r in rows:
        v = np.array(r.embedding)
        bits = (v >= 0).astype(np.int64)
        lo = int((bits[:32] << np.arange(32, dtype=np.int64)).sum())
        hi = int((bits[32:] << np.arange(32, dtype=np.int64)).sum())
        assert (r.bq_w0, r.bq_w1) == (lo, hi), r.vec_id


def test_covariance_matches_numpy(spark):
    rng = np.random.default_rng(3)
    X = rng.normal(size=(40, 5)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in SIM.covariance_stats(df).collect()
    }
    # reference: quantize exactly as the operator does, then np.cov
    Q = np.round(X.astype(np.float64) * 1e6)
    C = np.cov(Q.T / 1e6, ddof=1)
    for (i, j), v in got.items():
        assert v == pytest.approx(C[i, j], abs=2e-6)
    assert len(got) == 15  # 5*(5+1)/2 upper triangle


def test_pca_power_top_matches_eigh(spark):
    rng = np.random.default_rng(11)
    # anisotropic data: dominant direction along a known axis mix
    base = rng.normal(size=(60, 4))
    base[:, 0] *= 6.0
    base[:, 1] *= 2.0
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(base)],
        "vec_id bigint, embedding array<float>",
    )
    v = np.array(SIM.pca_power_top(df, iters=60))
    Q = np.round(base.astype(np.float32).astype(np.float64) * 1e6) / 1e6
    C = np.cov(Q.T, ddof=1)
    w, V = np.linalg.eigh(np.round(C, 6))
    top = V[:, -1]
    if top[np.argmax(np.abs(top))] < 0:
        top = -top
    assert float(np.abs(np.dot(v, top))) > 0.9999


# ------------------------------------------------------------- AST guards
_SIM_SRC = pathlib.Path(SIM.__file__)

# row_number windows that are not a per-query top-k, each named with the
# number it may hold: binary_topk's salted per-(query, salt) shortlist,
# seeded_ivf_topk's global centroid numbering and its nested _cell_rank
# (vector -> nearest seeded cell, SQL-twinned by the oracle)
_WINDOW_EXEMPT = {"binary_topk": 1, "seeded_ivf_topk": 1, "_cell_rank": 1}


def _functions(tree):
    """(function, its own nodes): nested defs are their own entries."""
    out = []

    def visit(fn):
        own = []
        stack = list(ast.iter_child_nodes(fn))
        while stack:
            n = stack.pop()
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(n)
                continue
            own.append(n)
            stack.extend(ast.iter_child_nodes(n))
        out.append((fn, own))

    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            visit(node)
    return out


def _calls(nodes, attr):
    return [
        n for n in nodes
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
    ]


def test_only_topk_builds_a_row_number_window():
    tree = ast.parse(_SIM_SRC.read_text())
    found = {
        fn.name: len(_calls(own, "row_number"))
        for fn, own in _functions(tree)
        if _calls(own, "row_number")
    }
    assert found == {"_topk": 1, **_WINDOW_EXEMPT}


def test_only_lloyd_fit_runs_a_lloyd_loop():
    """A Lloyd loop: a `for` whose body both assigns points to their
    nearest centroid (argmin) and moves centroids to means."""
    tree = ast.parse(_SIM_SRC.read_text())
    loops = set()
    for fn, own in _functions(tree):
        for n in own:
            if isinstance(n, ast.For):
                body = [b for s in n.body for b in ast.walk(s)]
                if _calls(body, "argmin") and _calls(body, "mean"):
                    loops.add(fn.name)
    assert loops == {"_lloyd_fit"}
