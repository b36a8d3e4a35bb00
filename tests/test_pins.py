"""pins.py, the one registry of cached intermediates: what each scope
keeps and drops, that a failed eager action cannot leak its pin, and
that no other module keeps a cache registry of its own."""

import ast
import pathlib
import re

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql import types as T

import __spark_entry__ as entry_mod
from mobilityduck_spark import berlinmod as BMQ
from mobilityduck_spark import pins
from mobilityduck_spark import queries as Q
from mobilityduck_spark.operators import basket as BK
from mobilityduck_spark.operators import graph as G
from mobilityduck_spark.operators import similarity as SIM
from mobilityduck_spark.sources import tables as SRC

SF = "/root/testdata/sf0.001"
PKG = pathlib.Path(__file__).resolve().parent.parent / "mobilityduck_spark"


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _cached_plans(spark) -> int:
    """Entries in the session's CacheManager (no public accessor)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def _session_tables(spark):
    return [
        BMQ._trips(spark, SF),
        BMQ._point_hits(spark, SF),
        BMQ._segments(spark, SF),
        BMQ._l1_segments(spark, SF),
        SRC.user_tfloat(spark, SF),
        SRC.user_tbool(spark, SF),
        Q._user_trajectories(spark, SF),
    ]


def test_release_operator_caches_drains_pins(spark):
    jsc = spark.sparkContext._jsc
    Q.release_operator_caches()
    base = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b")], "b bigint, i string"
    )
    BK.pair_rules(df, "b", "i").collect()
    assert pins._PINS["call"], "pair_rules must register its pin"
    n = Q.release_operator_caches()
    assert n >= 1
    assert not pins._PINS["call"]
    assert jsc.getPersistentRDDs().size() <= base


@F.udf(T.LongType())
def _raising_long(x):
    raise ValueError("planted failure")


@F.udf(T.ArrayType(T.DoubleType()))
def _raising_vec(v):
    raise ValueError("planted failure")


def _kcore_on_raising_edges(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "a long, b long"
    ).select(_raising_long("a").alias("a"), "b")
    return G.kcore(edges, k=2)


def _embedding_near_dups_on_raising_vectors(spark):
    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(64)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    ).select("vec_id", _raising_vec("embedding").alias("embedding"))
    return SIM.embedding_near_dup_pairs(emb)


@pytest.mark.parametrize(
    "build", [_kcore_on_raising_edges, _embedding_near_dups_on_raising_vectors]
)
def test_failed_eager_count_leaves_no_pin(spark, build):
    """The operator pins its input and counts it while building; when
    that count raises, releasing the call scope must still reclaim the
    cache block."""
    Q.release_operator_caches()
    rdds, plans = _persistent_rdds(spark), _cached_plans(spark)
    with pytest.raises(Exception, match="planted failure"):
        build(spark)
    Q.release_operator_caches()
    assert _persistent_rdds(spark) <= rdds
    assert _cached_plans(spark) <= plans


def test_unmemoized_index_builds_leave_no_session_pin(spark):
    """An unmemoized index build pins what it builds in the call scope,
    so a query's release frees it: three semantic_dedup calls over both
    assignment paths, flat IVF (8 clusters) and two-level (200 cells),
    and a residual IVF-PQ search without a cache key."""
    emb = SRC.load(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    calls = [
        lambda: SIM.semantic_dedup(emb, n_clusters=8),
        lambda: SIM.semantic_dedup(emb, n_clusters=200),
        lambda: SIM.semantic_dedup(emb, n_clusters=8),
        lambda: SIM.ivfpq_residual_topk(emb, q, k=3),
    ]
    Q.release_operator_caches()
    held, rdds = len(pins._PINS["session"]), _persistent_rdds(spark)
    for i, call in enumerate(calls):
        with pins.query_scope(f"unmemoized_build_{i}"):
            call().collect()
        assert len(pins._PINS["session"]) == held, i
        assert _persistent_rdds(spark) <= rdds, i


def test_call_release_keeps_session_scope(spark):
    BMQ.warm_caches(spark, SF)
    tables = _session_tables(spark)
    for t in tables[4:]:
        t.count()
    Q.release_operator_caches()
    assert [t.storageLevel for t in tables] == [
        StorageLevel.MEMORY_AND_DISK_DESER
    ] * len(tables)
    # memoized: the same pinned frames come back, nothing is rebuilt
    assert all(a is b for a, b in zip(_session_tables(spark), tables))


def test_session_release_returns_to_pre_warm_baseline(spark):
    Q.release_operator_caches(session_scoped=True)
    rdds, plans = _persistent_rdds(spark), _cached_plans(spark)
    BMQ.warm_caches(spark, SF)
    for t in _session_tables(spark):
        t.count()
    assert _persistent_rdds(spark) > rdds
    assert Q.release_operator_caches(session_scoped=True) >= 7
    assert _persistent_rdds(spark) <= rdds
    assert _cached_plans(spark) <= plans
    assert not pins._MEMO


def test_entry_teardown_releases_temporal_tables(spark):
    tables = [
        SRC.user_tfloat(spark, SF),
        SRC.user_tbool(spark, SF),
        Q._user_trajectories(spark, SF),
    ]
    for t in tables:
        t.count()
    entry_mod.release_caches()
    assert [t.storageLevel for t in tables] == [StorageLevel.NONE] * 3


def test_query_scope_releases_on_raise_and_names_jobs(spark):
    sc = spark.sparkContext
    with pytest.raises(RuntimeError):
        with pins.query_scope("q_planted"):
            assert sc.getLocalProperty("spark.job.description") == "q_planted"
            df = pins.pin(spark.range(3))
            df.count()
            raise RuntimeError
    assert not pins._PINS["call"]
    assert df.storageLevel == StorageLevel.NONE
    assert sc.getLocalProperty("spark.job.description") is None


def test_memo_builds_once_per_key_until_session_release():
    built = []

    def build():
        built.append(1)
        return len(built)

    key = ("test-app", SF, "memo-probe")
    assert pins.memo(key, build) == pins.memo(key, build) == 1
    assert pins.memo(None, build) == 2  # no key: never memoized
    pins.release()
    assert pins.memo(key, build) == 1
    pins.release(session=True)
    assert pins.memo(key, build) == 3
    pins.release(session=True)


_REGISTRY_NAME = re.compile(r"_PERSISTED\w*|_\w*_CACHE|_cc_cache")
# registries of what the package defines, not caches of what it built
_REGISTRIES = {("queries.py", "_QUERIES"), ("queries.py", "_ORACLES")}


def _empty_container(node) -> bool:
    """`{}`, `[]`, `set()`, `dict()`, `defaultdict(...)`: the value a
    module-level cache starts from."""
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, (ast.List, ast.Set)):
        return not node.elts
    if isinstance(node, ast.Call):
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
        return name in ("defaultdict", "OrderedDict") or (
            name in ("dict", "list", "set") and not node.args and not node.keywords
        )
    return False


def test_pins_holds_the_only_registry():
    """Outside pins.py no module persists a frame itself, keeps a
    module-level pin list or memo dict (any name bound to an empty
    container), or defines its own release function. (localCheckpoint
    is not a pin.)"""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "pins.py":
            continue
        tree = ast.parse(path.read_text())
        rel = path.relative_to(PKG.parent)
        for node in tree.body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign)
                else []
            )
            for t in targets:
                if not isinstance(t, ast.Name):
                    continue
                if _REGISTRY_NAME.fullmatch(t.id):
                    found.append(f"{rel}:{node.lineno} registry {t.id}")
                elif (
                    node.value is not None
                    and _empty_container(node.value)
                    and (path.name, t.id) not in _REGISTRIES
                ):
                    found.append(f"{rel}:{node.lineno} module-level cache {t.id}")
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "persist"
            ):
                found.append(f"{rel}:{node.lineno} .persist(")
            if isinstance(node, ast.FunctionDef) and node.name in (
                "release_caches", "release_call_caches"
            ):
                found.append(f"{rel}:{node.lineno} def {node.name}")
    assert not found, found
