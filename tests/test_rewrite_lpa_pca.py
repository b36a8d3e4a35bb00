"""Unit tests for chunk_dedup_rewrite and label_propagation."""

import hashlib

from mobilityduck_spark.operators import graph as G
from mobilityduck_spark.operators import text as TX


# ------------------------------------------------------- chunk rewrite
def test_chunk_dedup_rewrite_basic(spark):
    # chunk size 3: doc 1 = [a b c][d e f]; doc 2 repeats doc 1's first
    # chunk then adds its own; doc 3 is an exact copy of doc 1
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c x y z"),
            (3, "a b c d e f"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in TX.chunk_dedup_rewrite(docs, chunk_tokens=3).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1]["n_chunks"] == 2 and out[1]["n_removed"] == 0
    assert out[1]["clean_fp"] == md5("a b c d e f")
    # doc 2 loses its first chunk (doc 1 owns "a b c"), keeps "x y z"
    assert out[2]["n_removed"] == 1
    assert out[2]["clean_fp"] == md5("x y z")
    # doc 3 loses everything -> empty rewrite
    assert out[3]["n_removed"] == 2
    assert out[3]["clean_fp"] == md5("")


def test_chunk_dedup_rewrite_partial_tail_and_case(spark):
    # tail chunk shorter than the window still dedups; tokenization is
    # case-insensitive and trims
    docs = spark.createDataFrame(
        [(1, "  A b C d  "), (2, "a B c D")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in TX.chunk_dedup_rewrite(docs, chunk_tokens=3).collect()
    }
    assert out[1]["n_chunks"] == 2  # [a b c] [d]
    assert out[1]["n_removed"] == 0
    assert out[2]["n_removed"] == 2


# ---------------------------------------------------- label propagation
def test_label_propagation_weighted_majority(spark):
    # node 3 bridges cluster {1,2} (heavy weights) and node 4 (light):
    # after round 1 every node adopts its heaviest neighbor's label;
    # CC would merge all four, LPA keeps 4 pulled toward 3's label only
    # through the light edge.
    edges = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 10), (3, 4, 1)],
        "id_a bigint, id_b bigint, w bigint",
    )
    out1 = {
        r["node"]: r["community"]
        for r in G.label_propagation(edges, rounds=1).collect()
    }
    # round 1: 1<-2's label? neighbors of 1 = {2(w10)} -> lab 2;
    # 2: neighbors {1(10), 3(10)} tie -> min label 1;
    # 3: neighbors {2(10), 4(1)} -> 2; 4: neighbors {3(1)} -> 3
    assert out1 == {1: 2, 2: 1, 3: 2, 4: 3}


def test_label_propagation_clique_converges(spark):
    # a triangle with equal weights converges to the min node label
    edges = spark.createDataFrame(
        [(5, 6, 1), (6, 7, 1), (5, 7, 1)],
        "id_a bigint, id_b bigint, w bigint",
    )
    out = {
        r["node"]: r["community"]
        for r in G.label_propagation(edges, rounds=2).collect()
    }
    assert set(out.values()) == {5}
