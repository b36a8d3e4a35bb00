"""Connected components: planted graphs with known components, including
shapes that require transitivity (chains) and pointer jumping (long
paths), plus the docs-level cluster assignment."""

import pyspark.sql.functions as F
import pytest

from mobilityduck_spark import pins
from mobilityduck_spark.operators import components as CC


def _components(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = CC.connected_components(df, **kw).collect()
    comp = {}
    for r in out:
        comp.setdefault(r["component"], set()).add(r["node"])
    return {frozenset(v) for v in comp.values()}


def test_two_triangles(spark):
    got = _components(
        spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12)]
    )
    assert got == {frozenset({1, 2, 3}), frozenset({10, 11, 12})}


def test_long_chain_converges(spark):
    # a 20-node path: diameter 19 — pointer jumping must converge well
    # inside max_iter
    edges = [(i, i + 1) for i in range(20)]
    got = _components(spark, edges, max_iter=10)
    assert got == {frozenset(range(21))}


def test_self_loops_and_duplicates_ignored(spark):
    got = _components(spark, [(5, 5), (1, 2), (2, 1), (1, 2)])
    assert got == {frozenset({1, 2})}


def test_bridge_merges_cliques(spark):
    # two cliques joined by one bridge edge → single component labeled
    # by the global min
    edges = [(1, 2), (2, 3), (7, 8), (8, 9), (3, 7)]
    got = _components(spark, edges)
    assert got == {frozenset({1, 2, 3, 7, 8, 9})}


def test_local_gate_matches_distributed(spark):
    # the size-gated driver union-find and the pointer-jumping loop
    # must produce the IDENTICAL (node, component) relation — min node
    # id per component — on shapes that need transitivity, merging and
    # dedup of reversed/duplicate edges
    edges = (
        [(i, i + 1) for i in range(12)]          # chain
        + [(100, 101), (101, 102), (102, 100)]   # triangle
        + [(200, 201), (201, 200), (200, 201)]   # dup + reversed
        + [(300, 300)]                           # self-loop (dropped)
        + [(11, 102)]                            # bridge chain↔triangle
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    local = {(r["node"], r["component"])
             for r in CC.connected_components(df).collect()}
    dist = {(r["node"], r["component"])
            for r in CC.connected_components(
                df, local_max_edges=0).collect()}
    assert local == dist
    assert (0, 0) in local and (102, 0) in local  # bridge merged, min label
    pins.release()


def test_assign_clusters_keep_flags(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame([(2, 5), (5, 6)], "id_a long, id_b long")
    out = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in CC.assign_clusters(docs, pairs).collect()}
    assert out[2] == (2, True)
    assert out[5] == (2, False)
    assert out[6] == (2, False)
    for singleton in (1, 3, 4, 7):
        assert out[singleton] == (singleton, True)
    pins.release()
