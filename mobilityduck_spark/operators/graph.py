"""Graph analytics over relational edge tables: triangle counting and
clustering structure.

Together with connected components (components.py) and exact-integer
PageRank (retrieval.textrank_keywords) this gives the engine the
standard distributed-graph toolkit expressed as Catalyst joins.

Scale shape (100 TB): triangle enumeration is the canonical 3-way
self-join on ordered edges (a<b, b<c, close a-c) — every join is an
equi-join on a node key, so work is sum over nodes of deg² (wedges),
the same bound every BSP/MapReduce triangle algorithm has. Degree-skew
is the hazard at scale: a celebrity node with deg=1e6 contributes 1e12
wedges, so `max_degree` drops super-hub nodes BEFORE the self-join
(the degree analog of the n-gram df-cap; dropped hubs are reported in
the stats row, never silently).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pins import pin

def _canonical_edges(
    edges: DataFrame, src: str, dst: str, max_degree: int | None
) -> DataFrame:
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    if max_degree is not None:
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        hubs = deg.where(F.col("deg") > max_degree).select("n")
        e = (
            e.join(hubs.withColumnRenamed("n", "a"), "a", "left_anti")
            .join(hubs.withColumnRenamed("n", "b"), "b", "left_anti")
            .select("a", "b")
        )
    return e


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """Exact triangle count + wedge count of the undirected simple
    graph (edges canonicalized to a<b, deduplicated; self-loops
    dropped). Returns ONE row (n_nodes, n_edges, n_wedges,
    n_triangles) — all exact BIGINTs; the global clustering
    coefficient is 3*tri/wedges, left to the caller so no float enters
    the hashed output.

    Triangles: e1(a,b) ⋈ e2(b,c) on the middle node (b<c keeps each
    wedge once) ⋈ edge(a,c) to close — every triangle a<b<c counted
    exactly once. Wedges: sum over nodes of C(deg, 2).
    """
    # the canonical edge relation is read FIVE times below (degree
    # union ×2, the three triangle-join sides) — pin it so the
    # dedup/canonicalization shuffle runs once (same multi-consumer
    # persist contract as LPA's edge materialization)
    e = pin(_canonical_edges(edges, src, dst, max_degree))
    # both endpoint degrees from ONE pass: explode(array(a, b)) ≡
    # unionAll of the two projections (order-free under the groupBy)
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    nodes_edges = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias("n_wedges"),
    )
    e2 = e.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e.join(e2, e["b"] == e2["b2"])
        .where(F.col("b") < F.col("c"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return nodes_edges.crossJoin(tri)


def node_triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 20,
    max_degree: int | None = None,
) -> DataFrame:
    """Per-node triangle participation, top-k by count (count desc,
    node asc tiebreak). Each triangle a<b<c contributes 1 to each of
    its three corners — the local clustering numerator."""
    # pin the canonical edges (three join sides read them) and emit all
    # three triangle corners from ONE evaluation of the 3-way join —
    # the unionAll formulation re-ran the whole triangle enumeration
    # per corner projection (explode(array(a,b,c)) ≡ the 3-way union,
    # order-free under the groupBy)
    e = pin(_canonical_edges(edges, src, dst, max_degree))
    e2 = e.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tris = (
        e.join(e2, e["b"] == e2["b2"])
        .where(F.col("b") < F.col("c"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    corners = tris.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return (
        corners.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), F.col("node").asc())
        .limit(k)
    )


def _local_lpa(base: DataFrame, rounds: int) -> DataFrame:
    """Driver-side replay of the synchronous weighted LPA rounds for a
    bounded, already-collected edge list — update rule identical to
    the distributed loop: per round every node adopts argmax over
    neighbor labels of (total incident weight, then smallest label)."""
    from pyspark.sql.types import StructField, StructType

    rows = [(r[0], r[1], r[2]) for r in base.collect()]
    sym = rows + [(t, s, w) for s, t, w in rows]
    lab = {s: s for s, _, _ in sym}
    for _ in range(rounds):
        ws: dict = {}
        for s, t, w in sym:
            key = (t, lab[s])
            ws[key] = ws.get(key, 0) + w
        best: dict = {}
        for (node, lbl), wsum in ws.items():
            cur = best.get(node)
            if cur is None or (wsum, -lbl) > cur[0]:
                best[node] = ((wsum, -lbl), lbl)
        lab = {node: pick[1] for node, pick in best.items()}
    ntype = base.schema["s"].dataType
    schema = StructType(
        [StructField("node", ntype), StructField("community", ntype)]
    )
    return base.sparkSession.createDataFrame(
        list(lab.items()), schema=schema
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "id_a",
    dst: str = "id_b",
    weight: str = "w",
    local_max_edges: int = 100_000,
) -> DataFrame:
    """Synchronous weighted label propagation (community detection):
    every node starts as its own label; each round, a node adopts the
    label with the LARGEST total incident edge weight among its
    neighbors' current labels (ties -> smallest label, so the result is
    fully deterministic with integer weights). Unlike connected
    components this respects weights — a node bridging two clusters
    lands with the heavier side.

    Plan (100 TB): each round is one equi-join of the (src, dst, w)
    edge list against the |nodes|-sized label table on the src key, a
    (node, label) partial-agg groupBy, and a per-node max chosen by
    max(struct(wsum, -label)) — NO window sort. Fixed `rounds` keyed
    shuffles total; hub capping is inherited from the edge builder.
    Returns (node, community).
    """
    # Materialize the caller's edge pipeline ONCE, eagerly, BEFORE the
    # symmetric union: sym references `edges` twice, so persisting only
    # sym still evaluated the (often expensive — gram-join / LSH) edge
    # pipeline twice on first touch, the measured 15.1 s-cold vs 3.8 s-
    # warm spike in the close-out bench. persist + count (not
    # localCheckpoint): the fixed-rounds loop here grows the plan only
    # linearly so truncation isn't needed, and a persisted DataFrame is
    # actually RECLAIMED by pins.release — checkpoint
    # blocks aren't registered with the cache manager and would leak
    # until GC.
    from pyspark import StorageLevel

    base = pin(
        edges.select(
            F.col(src).alias("s"), F.col(dst).alias("t"), F.col(weight).alias("w")
        ),
        level=StorageLevel.MEMORY_AND_DISK,
    )
    n_base = base.count()  # eager: one evaluation, charged here
    # the edge pipeline is already materialized and counted above, so
    # the size gate is free: for bounded dedup graphs, replay the SAME
    # synchronous rounds on the driver instead of a rounds-deep plan of
    # keyed shuffles (same threshold-gated bounded-collect pattern as
    # connected_components / the codebook fits). Exact because weights
    # are summed as Python ints (callers pass integer weights — the
    # documented determinism contract above) and the (max ws, min
    # label) pick is total. Past the gate the Catalyst loop below is
    # the at-scale path.
    if n_base <= local_max_edges:
        return _local_lpa(base, rounds)
    sym = base.unionAll(
        base.select(
            F.col("t").alias("s"), F.col("s").alias("t"), F.col("w")
        )
    )
    labels = sym.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    for _ in range(rounds):
        contrib = (
            sym.join(labels, sym["s"] == labels["node"])
            .groupBy(F.col("t").alias("node"), "lab")
            .agg(F.sum("w").alias("ws"))
        )
        labels = contrib.groupBy("node").agg(
            F.max(F.struct(F.col("ws"), (-F.col("lab")).alias("nl"))).alias(
                "m"
            )
        ).select("node", (-F.col("m.nl")).alias("lab"))
    return labels.select("node", F.col("lab").alias("community"))


def _local_kcore(
    edges: DataFrame, src: str, dst: str, k: int, max_rounds: int | None
) -> DataFrame:
    """Driver-side replay of the simultaneous peel for a bounded edge
    list — identical loop structure (including the max_rounds raise) to
    the distributed path; the k-core is the unique maximal subgraph of
    min degree >= k, so any faithful peel yields the same rows."""
    from pyspark.sql.types import LongType, StructField, StructType

    rows = [(r[0], r[1]) for r in edges.select(src, dst).collect()]
    live = rows + [(t, s) for s, t in rows]
    n_prev = None
    rounds = 0
    while True:
        deg: dict = {}
        for s, _ in live:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        n = len(keep)
        if n_prev is not None and n == n_prev:
            break
        if max_rounds is not None and rounds >= max_rounds:
            raise RuntimeError(
                f"kcore: no fixpoint after max_rounds={max_rounds} "
                f"(live nodes {n_prev} -> {n}); rerun with a larger "
                "budget or max_rounds=None"
            )
        rounds += 1
        n_prev = n
        live = [(s, t) for s, t in live if s in keep and t in keep]
    deg = {}
    for s, _ in live:
        deg[s] = deg.get(s, 0) + 1
    ntype = edges.schema[src].dataType
    schema = StructType(
        [StructField("node", ntype), StructField("core_deg", LongType())]
    )
    return edges.sparkSession.createDataFrame(
        [(n_, d) for n_, d in deg.items() if d >= k], schema=schema
    )


def kcore(
    edges: DataFrame,
    k: int = 3,
    src: str = "a",
    dst: str = "b",
    max_rounds: int | None = None,
    local_max_edges: int = 100_000,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    every node of degree < k (simultaneously) until a fixpoint; the
    survivors form the k-core. Returns (node, core_deg) — each core
    member with its degree WITHIN the core.

    The loop runs to the fixpoint unconditionally: the live node set
    shrinks monotonically, so termination is guaranteed in at most
    |V| rounds (chain/path graphs really do need O(|V|) rounds —
    simultaneous peeling eats a 200-node path at k=2 two ends at a
    time). `max_rounds` is an optional budget for callers that want
    one; exhausting it RAISES rather than silently returning interior
    path nodes as a phantom core.

    Plan (100 TB): each round is one groupBy(node) degree count over
    the live symmetric edge list plus two broadcast-or-shuffle semi
    joins that drop edges touching a peeled node — all node-key
    equi-joins, no windows, no driver-side data. The fixpoint test is
    a scalar count per round (the same driver-side convergence check
    LPA/CC use). Rounds are bounded by the graph's degeneracy ordering
    depth, not |V|: real-world graphs converge in tens of rounds; the
    live edge list shrinks monotonically so late rounds are cheap.

    Each round's survivor edge list is localCheckpoint'ed (eager):
    every round references its predecessor three times, so WITHOUT
    lineage truncation the logical plan grows 3^rounds and the driver
    OOMs just PLANNING round ~8 — the iterative-algorithm analog of
    the DuckDB MATERIALIZED-CTE note on the oracle side. On a real
    cluster this becomes reliableCheckpoint/write-to-object-store;
    the truncation point, not the storage tier, is what matters."""
    # size gate: one edge count up front replaces a fixpoint loop of
    # per-round count jobs when the graph is bounded (the peel is
    # latency-bound on small graphs — each round is pure job overhead).
    # Same bounded-collect pattern as connected_components. The edge
    # pipeline is persisted BEFORE the count (the LPA contract): the
    # count materializes it once, and every later reference — the
    # local collect on the gated path, or the symmetric union feeding
    # the eager checkpoint (which referenced `edges` twice, so the
    # ungated path used to evaluate the upstream gram-join/LSH
    # pipeline three times) — reads the cache.
    from pyspark import StorageLevel

    base = pin(edges.select(src, dst), level=StorageLevel.MEMORY_AND_DISK)
    n_edges = base.count()  # eager: one evaluation, charged here
    if n_edges <= local_max_edges:
        return _local_kcore(base, src, dst, k, max_rounds)
    sym = base.select(
        F.col(src).alias("s"), F.col(dst).alias("t")
    ).unionAll(
        base.select(F.col(dst).alias("s"), F.col(src).alias("t"))
    )
    live = sym.localCheckpoint(eager=True)
    n_prev = None
    rounds = 0
    while True:
        keep = (
            live.groupBy("s").count()
            .filter(F.col("count") >= k)
            .select(F.col("s").alias("node"))
        )
        n = keep.count()
        if n_prev is not None and n == n_prev:
            break
        if max_rounds is not None and rounds >= max_rounds:
            raise RuntimeError(
                f"kcore: no fixpoint after max_rounds={max_rounds} "
                f"(live nodes {n_prev} -> {n}); rerun with a larger "
                "budget or max_rounds=None"
            )
        rounds += 1
        n_prev = n
        live = (
            live.join(keep.select(F.col("node").alias("s")), "s", "semi")
            .join(keep.select(F.col("node").alias("t")), "t", "semi")
            .localCheckpoint(eager=True)
        )
    return (
        live.groupBy("s").count()
        .filter(F.col("count") >= k)
        .select(
            F.col("s").alias("node"),
            F.col("count").cast("bigint").alias("core_deg"),
        )
    )
