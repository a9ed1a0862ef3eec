"""Graph operators (engine extension: LLM-data-pipeline clustering).

The near-dup operators (dedup.py) emit PAIRS; turning pairs into
dedup decisions needs the transitive closure — documents A~B and B~C
belong to one cluster even when A~C is below threshold. That closure is
connected components, implemented here as iterative min-label
propagation over DataFrames (the standard BSP formulation; no GraphX
dependency, no RDDs).

Scale notes: each iteration is one shuffle (edge-label join + min
groupBy); rounds needed = graph diameter, and near-dup graphs are
shallow (dup clusters are cliques-ish, diameter ~2-4). Lineage is cut
per round with localCheckpoint — without it the plan doubles each
iteration and Catalyst analysis dominates. The reference has no graph
surface; this is greenfield per SURVEY.md §7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Edge-count gate below which the closure runs as driver-side
#: union-find instead of the BSP loop. Each BSP round costs a join, a
#: groupBy, a localCheckpoint materialization and a convergence count —
#: ~4 s of fixed overhead for a 256-edge dup graph at sf0.1. Near-dup
#: edge sets are SPARSE by construction (LSH emits only verified
#: pairs), so in practice even petabyte corpora produce edge frames
#: far below this; the BSP path stays the default above it.
#: 100k (not 1M): node ids are often string fingerprints/paths, and
#: collect() of 2x100k symmetrized string-pair rows is ~tens of MB of
#: Python objects — comfortably safe on any driver, while 2M rows of
#: long paths could reach hundreds of MB (round-3 advice).
SMALL_GRAPH_EDGES = 100_000


def _driver_union_find(sym: DataFrame) -> DataFrame:
    """Exact min-label components for a small (gated) edge frame:
    collect, union-find with path compression, re-parallelize.
    Identical output contract to the BSP loop — (node, component) with
    component = min reachable node id, same column types."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in sym.collect():
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict = {}
    for n in parent:
        r = find(n)
        comp[r] = min(comp.get(r, n), n)
    rows = [(n, comp[find(n)]) for n in parent]
    node_type = sym.schema["a"].dataType
    spark = sym.sparkSession
    from pyspark.sql.types import StructField, StructType

    return spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("node", node_type, False),
                StructField("component", node_type, False),
            ]
        ),
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Undirected connected components over an edge list.

    Returns (node, component) with component = min node id reachable.
    Converges in O(diameter) rounds; raises if max_iter is hit without
    convergence (pathological chains — raise max_iter for those).

    Strategy is size-adaptive, AQE-style: the symmetrized edge frame is
    materialized (localCheckpoint) either way, so its count is free —
    below ``small_graph_edges`` the closure runs as driver union-find
    (one job instead of diameter-many shuffle rounds), above it the
    BSP loop runs unchanged. Both paths produce identical labels
    (differential-tested in
    tests/test_round2_ops.py::test_cc_union_find_and_bsp_agree).
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    # hash-partition the (static) edge frame on the join key once:
    # localCheckpoint preserves outputPartitioning, so every round's
    # propagation join reshuffles only the (smaller, changing) label
    # frame — the 100 TB edge list stays put.
    sym = sym.repartition("a").localCheckpoint()
    # sym carries BOTH directions of every edge (2 rows per edge) —
    # halve before comparing against the edge-denominated gate
    if sym.count() <= 2 * small_graph_edges:
        return _driver_union_find(sym)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        prop = sym.join(
            labels.withColumnRenamed("node", "a"), "a"
        ).select(F.col("b").alias("node"), "component")
        minp = prop.groupBy("node").agg(F.min("component").alias("_p"))
        # carry the old label through the merge so convergence is a
        # free scan of the checkpointed frame (no new-vs-old join)
        merged = (
            labels.join(minp, "node", "left")
            .select(
                "node",
                "component",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_p"), F.col("component")),
                ).alias("_new"),
            )
            .localCheckpoint()
        )
        changed = (
            merged.filter(F.col("_new") < F.col("component")).limit(1).count()
        )
        labels = merged.select("node", F.col("_new").alias("component"))
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Undirected connected components by alternating large-star /
    small-star contraction (the MapReduce CC algorithm of Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14).

    Same output contract as ``connected_components``: (node, component)
    with component = min reachable node id. The difference is the round
    bound: min-label propagation needs O(diameter) rounds (a 10k-node
    chain needs 10k shuffles), while star contraction converges in
    O(log^2 n) rounds regardless of diameter — and handles huge
    near-clique components (skewed dup clusters) without the label
    frame churning through diameter-many rewrites. Each round is two
    self-contained shuffle pairs (groupBy-min + join per star step);
    lineage is cut per round with localCheckpoint.

    large-star: every node connects its LARGER neighbors to its
    minimum neighbor (or itself); small-star: every node connects its
    smaller-or-equal neighbors to the minimum. At the fixed point the
    edge set is a star forest rooted at component minima.
    """
    uv = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # nodes come from the endpoints BEFORE the self-loop filter: a node
    # whose only edge is a self-loop is its own singleton component
    nodes = (
        uv.select(F.col("u").alias("node"))
        .unionByName(uv.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    e = uv.filter(F.col("u") != F.col("v")).distinct().localCheckpoint()

    def large_star(edg: DataFrame) -> DataFrame:
        sym = edg.unionByName(
            edg.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(edg: DataFrame) -> DataFrame:
        # orient high -> low so each node sees its <= neighbors
        lo = edg.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = lo.groupBy("u").agg(F.min("v").alias("m"))
        linked = lo.join(mins, "u")
        rewired = linked.select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).unionByName(linked.select("u", F.col("m").alias("v")))
        return rewired.filter(F.col("u") != F.col("v")).distinct()

    rounds = 0
    for _ in range(max_iter):
        e2 = small_star(large_star(e)).localCheckpoint()
        rounds += 1
        changed = (
            e2.exceptAll(e).limit(1).count() + e.exceptAll(e2).limit(1).count()
        )
        e = e2
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: no convergence in {max_iter} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # fixed point is a star forest: every non-root points at its
    # component min; roots get self-labels via the node frame.
    roots = nodes.join(
        e.select(F.col("u").alias("node")), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return e.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).unionByName(roots)


def component_sizes(labels: DataFrame) -> DataFrame:
    """Attach cluster_size to a (node, component) labeling."""
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labels.join(F.broadcast(sizes), "component").select(
        "node", "component", "cluster_size"
    )


def pagerank_quantized(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    scale: int = 1_000_000_000_000,
    ckpt_every: int = 4,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic: damping
    0.85 as the rational 17/20, ranks in ``scale``-denominated integer
    units, per-edge contribution floor((r(u) * 17) / (20 * deg(u))).

    Iterative graph algorithms usually live under the rows-only
    contract; this formulation is instead bit-reproducible on ANY
    engine (integer division only, no float accumulation), so a fixed
    unrolling replays exactly in SQL — the oracle-able variant of the
    family. Dangling-node mass is dropped (not redistributed), part of
    the spec.

    Scale shape per iteration: one join of ranks against the (static,
    pre-partitioned) edge frame + one groupBy — the BSP step of the
    CC loop with sums instead of mins. iters is a CONSTANT
    (fixed-point detection would need a convergence count per round);
    100 TB practice runs a handful of rounds anyway.

    Negative result worth keeping (measured at sf0.1, 1.17M edges /
    16k nodes, min-of-3): a CC-gate-style fast path that collects the
    16k ranks per round and inlines them as an array literal
    (re-iding nodes to ints, contrib = element_at(literal, uid) —
    one shuffle + one 16k collect per round, no joins) ran 6.95 s vs
    4.6 s for this BSP loop on identical output. The per-round ~130 KB
    literal parse/ship plus driver round trips cost more than the
    broadcast-sized join they replace — the collect-tiny-artifacts
    pattern pays once per QUERY (codebooks, blooms), not once per
    ITERATION.

    Checkpoint cadence (measured at sf0.1, 600k edges, min-of-3):
    per-round localCheckpoint was the dominant fixed cost, NOT the
    per-round ranks exchange — 3 iters ran 1.61 s with ckpt_every=1
    vs 1.21 s with none, and pre-hash-partitioning ranks/nodes on the
    join key changed nothing (the round's output partitioning already
    satisfies the next join's distribution). But unchecked lineage
    nests one Catalyst plan per round, so ``ckpt_every`` (default 4)
    cuts it periodically: at 8 iters, every-4 matched no-checkpoint
    (1.91 s vs 1.98 s) while bounding plan depth; at the default 3
    iters no checkpoint fires at all. Never on the last round — the
    caller's action materializes it anyway.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    # static join side: partition once, reuse every round
    ed = e.join(deg, "u").repartition("u").localCheckpoint()
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    init = scale // n
    base = (3 * scale) // (20 * n)
    ranks = nodes.withColumn("r", F.lit(init).cast("long"))
    for i in range(iters):
        contrib = (
            ed.join(ranks, ed["u"] == ranks["node"])
            .select(
                F.col("v").alias("node"),
                # integer `div`, NOT `/`+cast: float division of 1e13-
                # scale ints can land an ulp below an exact integer
                # quotient and floor one off — DuckDB's // is exact
                F.expr("(r * 17L) div (20L * deg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("inflow"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("inflow"), F.lit(0)))
            .cast("long")
            .alias("r"),
        )
        if ckpt_every and (i + 1) % ckpt_every == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", F.col("r").alias("rank"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 2,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), made DETERMINISTIC: each round every node adopts
    the majority label among its in-neighbors, ties broken by
    smallest label — so the fixed-round outcome is a pure function of
    the graph and an unrolled SQL oracle can replay it (the
    asynchronous/random-order variants of LPA are famously
    non-reproducible; the synchronous argmax-with-tiebreak form
    trades a little convergence speed for bit-reproducibility, the
    same bargain pagerank_quantized makes).

    Seeds are self-labels. Per round: one edge-labels join + one
    (node, label) count + a min-struct argmax — the min-struct keeps
    the reduction map-side-combinable instead of shuffling the
    counted frame again under a rank window (the grouped-kmeans
    lesson). ``rounds`` is a small constant; real community jobs run
    a handful of synchronous rounds and then cut by modularity.

    Returns (node, label). Expects DIRECTED input; pass a symmetrized
    frame for undirected semantics (matching connected_components).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        votes = (
            e.join(labels, e["u"] == labels["node"])
            .groupBy(F.col("v").alias("n"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.groupBy("n")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "label")).alias("b"))
            .select(F.col("n").alias("node"), F.col("b.label").alias("label"))
        )
    return labels


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    canonical: bool = False,
) -> DataFrame:
    """Per-node triangle counts by DEGREE-ORDERED wedge closing (the
    Suri–Vassilvitskii MapReduce algorithm, WWW'11): orient every
    undirected edge from its lower-(deg, id) endpoint to the higher,
    build wedges by self-joining the oriented frame on the apex, then
    close each wedge against the oriented edge set. Orientation bounds
    every node's out-degree by O(sqrt(m)) — the apex of a wedge is
    always its lowest-rank vertex, so a celebrity node with degree 10M
    never fans out 10M^2 wedges; it only ever appears as the CLOSING
    endpoint. Each triangle is generated exactly once (at its
    lowest-rank vertex), so counts are exact — no sampling, no
    approximation, and a plain 3-way self-join SQL oracle replays the
    result on node order alone (orientation changes the enumeration
    order, never the triangle set).

    Scale shape: two degree joins + one adjacency groupBy + two
    adjacency joins, all shuffling on node keys; no broadcasts of
    data-sized frames, no cartesian. Per-edge work = one intersect of
    two out-adjacency arrays, each bounded by the O(sqrt(m))
    orientation cap, so total work stays <= O(m^1.5), the known
    optimum for exact counting.

    Measured (sf0.1 co-purchase graph, 1.17M edges / 20k nodes, warm
    min-of-2): this adjacency-intersection form runs 6.1 s vs 9.1 s
    for the explicit wedge self-join (o JOIN o ON apex, then close
    each wedge against the edge set). Both are the same algorithm;
    the wedge form materializes sum C(outdeg, 2) ~ 35M skinny rows
    through a shuffle before the closing join prunes them, while the
    intersect form ships each adjacency array once per incident edge
    and prunes inside the row — fewer, fatter rows win here. On a
    graph with out-degrees near the sqrt(m) cap the arrays fatten and
    the balance can flip; re-measure before reusing elsewhere.

    Input is UNDIRECTED: rows are deduped and canonicalized (min, max)
    before orientation, self-loops dropped. Returns (node, triangles)
    for every node in at least one triangle.

    ``canonical=True`` asserts the caller already guarantees
    canonicalized input (every row u < v, no duplicates — e.g. a
    frame built with a ``u < v`` filter + distinct) and skips the
    defensive filter/least/greatest/distinct pass: one exchange +
    dedup of the full edge frame saved (r12 optimization; the
    co-purchase callers all construct exactly this shape). The fast
    path still localCheckpoints: the body reads ``e`` five times
    (degree union x2, rank join, wedge join x2), and an A/B against a
    checkpoint-skipping variant measured 3.3 s vs 4.3 s even when the
    caller's frame was itself already materialized.
    """
    a, b = F.col(src), F.col(dst)
    if canonical:
        e = edges.select(a.alias("u"), b.alias("v")).localCheckpoint()
    else:
        e = (
            edges.filter(a != b)
            .select(
                F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
            )
            .distinct()
            .localCheckpoint()
        )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # orient low-(deg, id) -> high-(deg, id); struct compare keeps the
    # rank generic over the node type (string fingerprints, longs, ...)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    fwd = F.struct(F.col("du").alias("d"), F.col("u").alias("n")) < F.struct(
        F.col("dv").alias("d"), F.col("v").alias("n")
    )
    o = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("y"),
    ).localCheckpoint()
    # out-adjacency arrays (distinct by construction: e is deduped);
    # collect_list order is engine-dependent but array_intersect
    # treats them as sets, so the triangle SET is order-independent
    adj = o.groupBy("x").agg(F.collect_list(F.col("y")).alias("nbrs"))
    ax = adj.select(F.col("x").alias("jx"), F.col("nbrs").alias("nx"))
    ay = adj.select(F.col("x").alias("jy"), F.col("nbrs").alias("ny"))
    tri = (
        o.join(ax, o["x"] == ax["jx"])
        .join(ay, o["y"] == ay["jy"])
        .select(
            "x",
            "y",
            F.explode(F.array_intersect("nx", "ny")).alias("z"),
        )
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )


#: Local-mode ceiling for kcore's per-round localCheckpoint blocks,
#: from the r9 stress run (docs/ROUND9_NOTES.md §16): a 150M-edge
#: frame completes only at 56 GiB driver memory; the 24 GiB default
#: OOMs. 50M edges leaves ~2x headroom at the default. Cluster mode
#: is exempt — checkpoint blocks spread across executors.
KCORE_LOCAL_EDGE_CEILING = 50_000_000


class LocalCheckpointCeiling(RuntimeError):
    """Raised instead of letting a single-JVM localCheckpoint OOM."""


def _is_single_jvm_master(master: str) -> bool:
    """True only for single-JVM masters: "local", "local[N]",
    "local[N,F]" / "local[*]". "local-cluster[...]" spawns separate
    executor JVMs whose checkpoint blocks spread like a real
    cluster's, so it is exempt from the localCheckpoint memory
    ceiling (r10 ADVICE)."""
    return master == "local" or master.startswith("local[")


def kcore_decompose(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_local_edges: int | None = KCORE_LOCAL_EDGE_CEILING,
    canonical: bool = False,
) -> DataFrame:
    """Fixed-round k-core pruning: repeatedly drop nodes with degree
    < k and re-count on the surviving subgraph. True k-core iterates
    to a fixpoint; a FIXED round count is the same determinism bargain
    pagerank_quantized makes (convergence detection costs a count per
    round, and the cascade profile after a handful of rounds is the
    useful signal anyway — how fast the graph evaporates under the
    constraint distinguishes a dense core from a fragile shell).

    Emits (round, node, deg): every survivor of every round with the
    degree that qualified it — the full per-round state, so an
    unrolled SQL oracle checks each transition, not just the final
    set (which can be EMPTY at small scale without voiding the check).

    Scale shape per round: one degree groupBy + two semi-joins, all
    shuffling on the node key; the survivor frame is O(nodes) and is
    checkpointed per round to keep it from recomputing under its two
    consumers (output union + edge restriction).

    Expects DIRECTED input; pass a symmetrized frame for undirected
    degree semantics (matching connected_components).

    ``max_local_edges`` guards the one measured single-JVM ceiling
    (r9 stress, 64x replication: the 150M-edge checkpoint blocks OOM
    a 24 GiB local driver; fine at 56 GiB, and a non-issue on a
    cluster where blocks spread across executors): in local mode,
    after the first checkpoint materializes, one cheap count on the
    already-materialized blocks turns the would-be OOM into an
    actionable error. Pass ``None`` to disable (e.g. after raising
    SPARK_DRIVER_MEMORY).

    ``canonical=True`` asserts the caller guarantees the frame is
    already self-loop-free and duplicate-free (e.g. the symmetrized
    form of a u < v distinct edge set) and skips the defensive
    filter + distinct — one exchange + dedup of the full edge frame
    saved per call (r12 optimization, mirrors triangle_count).
    """
    if canonical:
        e = edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v")
        ).localCheckpoint()
    else:
        e = (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
    sc = edges.sparkSession.sparkContext
    if max_local_edges is not None and _is_single_jvm_master(sc.master):
        n_edges = e.count()  # on checkpointed blocks: no recompute
        if n_edges > max_local_edges:
            raise LocalCheckpointCeiling(
                f"kcore_decompose: {n_edges} distinct edges exceeds the "
                f"single-JVM localCheckpoint budget ({max_local_edges}); "
                "at this size the per-round checkpoint blocks OOM the "
                "default 24 GiB local driver (measured r9: 150M edges "
                "needs 56 GiB). Raise SPARK_DRIVER_MEMORY and pass "
                "max_local_edges=None, or run on a cluster master."
            )
    out: DataFrame | None = None
    for i in range(1, rounds + 1):
        kept = (
            e.groupBy("u")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            .filter(F.col("deg") >= k)
            .localCheckpoint()
        )
        tagged = kept.select(
            F.lit(i).cast("int").alias("round"),
            F.col("u").alias("node"),
            "deg",
        )
        out = tagged if out is None else out.unionByName(tagged)
        if i < rounds:
            e = (
                e.join(kept.select("u"), "u", "semi")
                .join(kept.select(F.col("u").alias("v")), "v", "semi")
                .localCheckpoint()
            )
    assert out is not None
    return out


def khop_reach(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 3,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Multi-source BFS reach profile: for every seed, the number of
    DISTINCT nodes within <= h hops (seed itself excluded), for each
    h in 1..hops — the neighborhood-growth curve that powers influence
    estimation and crawl-frontier sizing.

    Frontier form of BFS: each hop expands only the nodes first
    reached last hop (anti-join against visited), yet visited_h still
    equals visited_{h-1} UNION N(visited_{h-1}) exactly, because
    N(visited_{h-2}) is already inside visited_{h-1} — so the plain
    visited-expansion SQL oracle replays the result while the Spark
    side pays |frontier| x avg-degree per hop instead of |visited| x
    avg-degree. That delta is the whole cost model of distributed BFS
    (frontiers shrink once the ball saturates; visited only grows).

    Scale shape per hop: one frontier-edges join + one distinct + one
    anti-join, all shuffled on node keys; visited/frontier carry
    (seed, node) pairs so a batch of seeds shares each hop's shuffles
    (batched multi-source BFS — seeds are a config-sized list, the
    per-seed ball is bounded by the reachable set).

    ``edges`` is directed (symmetrize for undirected) with endpoint
    columns ``src``/``dst`` (mirroring label_propagation /
    kcore_decompose); ``seeds`` is a one-column frame of start nodes.
    Returns (seed, hop, reach).
    """
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint()
    visited = seeds.select(
        F.col(seeds.columns[0]).alias("seed")
    ).select("seed", F.col("seed").alias("node")).localCheckpoint()
    frontier = visited
    counts: DataFrame | None = None
    for h in range(1, hops + 1):
        grown = (
            frontier.join(e, frontier["node"] == e["u"])
            .select("seed", F.col("v").alias("node"))
            .distinct()
        )
        frontier = grown.join(
            visited, ["seed", "node"], "left_anti"
        ).localCheckpoint()
        visited = visited.unionByName(frontier).localCheckpoint()
        c = (
            visited.filter(F.col("node") != F.col("seed"))
            .groupBy("seed")
            .agg(F.count(F.lit(1)).cast("long").alias("reach"))
            .select("seed", F.lit(h).cast("int").alias("hop"), "reach")
        )
        counts = c if counts is None else counts.unionByName(c)
    assert counts is not None
    return counts


def sssp_rounds(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    src: str = "u",
    dst: str = "v",
    weight: str = "w",
) -> DataFrame:
    """Bounded-round single/multi-source shortest paths over integer
    edge weights: ``rounds`` synchronous Bellman-Ford relaxations
    (dist_k(v) = min(dist_{k-1}(v), min_u dist_{k-1}(u) + w(u,v))).
    After k rounds every distance reachable in <= k hops is exact —
    the "delta-stepping without the buckets" compromise that maps
    cleanly onto BSP shuffles (each round = one join + one groupBy-min)
    and, because the round count is FIXED, unrolls into a SQL oracle
    the same way pagerank_quantized does.

    Integer weights keep min() exact cross-engine. Unreached nodes are
    simply absent (no infinity sentinel to disagree on). ``seeds`` is
    a one-column frame; multiple seeds compute the multi-source min
    distance. Lineage is cut per round (localCheckpoint) — the
    iterative-plan discipline every operator in this family follows.

    Scale: each round shuffles |dist| + |edges| rows on node keys.
    For diameter-bounded queries (ego networks, delivery radii) the
    fixed round count IS the semantics; for full SSSP at 100 TB
    switch to delta-stepping buckets — out of scope here.
    """
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"),
        F.col(weight).cast("long").alias("w"),
    ).localCheckpoint()
    d = seeds.select(
        F.col(seeds.columns[0]).alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).localCheckpoint()
    for _ in range(rounds):
        relaxed = d.join(e, d["node"] == e["u"]).select(
            F.col("v").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        d = (
            d.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return d


def resource_allocation_linkpred(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    micro: int = 1_000_000,
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Resource-allocation link prediction (Zhou, Lu, Zhang 2009):
    for every NON-adjacent pair (x, y), RA = sum over common
    neighbors w of 1/deg(w) — in integer micro-units
    (``micro div deg``) so the score replays exactly in SQL. Returns
    (x, y, score_u) for x < y pairs with at least one common
    neighbor, existing edges excluded.

    Shape: wedge enumeration through each center w (adjacency
    self-join on w with x < y) + a broadcast degree join + one
    groupBy — cost sum_w deg(w)^2, the same budget as triangle
    counting but WITHOUT the degree-orientation discount (RA needs
    every wedge, not just oriented ones). ``max_hub_degree`` is the
    scale knob: hubs beyond the cap contribute <= micro/cap per pair
    (negligible by construction) while generating the vast majority
    of wedges — drop them and the top of the ranking is unchanged in
    practice. Left None the result is exact (what the oracle checks).

    ``edges`` must be canonical undirected (u < v, distinct).
    """
    # The symmetrized adjacency feeds THREE consumers (both wedge
    # sides and the degree count) and the edge frame a fourth (the
    # anti-join); Catalyst branches don't share subplans, so an
    # upstream edge construction (e.g. the co-purchase self-join)
    # would otherwise run once per consumer. Cache the symmetric
    # frame — memory-and-disk, sized like the edge list itself.
    sym = edges.select(src, dst).unionByName(
        edges.select(F.col(dst).alias(src), F.col(src).alias(dst))
    ).cache()
    adj = sym.select(F.col(src).alias("w"), F.col(dst).alias("x"))
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    if max_hub_degree is not None:
        # prune BEFORE the quadratic self-join, not after: filtering
        # only the deg side would still enumerate every hub wedge and
        # discard it at the score join (measured 37.8 s -> the wedge
        # count is the whole cost). Joining the capped center set into
        # adj first bounds the self-join at cap * |adj| rows.
        deg = deg.filter(F.col("deg") <= max_hub_degree)
        adj = adj.join(deg.select("w"), "w")
    a = adj
    b = adj.select("w", F.col("x").alias("y"))
    scored = (
        a.join(b, "w")
        .filter(F.col("x") < F.col("y"))
        .join(deg, "w")
        .groupBy("x", "y")
        .agg(
            F.sum(F.expr(f"{micro} div deg")).cast("long").alias("score_u")
        )
    )
    existing = edges.select(
        F.col(src).alias("x"), F.col(dst).alias("y")
    )
    return scored.join(existing, ["x", "y"], "left_anti")


def degree_assortativity(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of (deg(u), deg(v)) over the symmetrized edge list —
    one number saying whether hubs attach to hubs (> 0) or to leaves
    (< 0). Returns a single row (m_edges, r). An edge with a null
    endpoint is not an edge: it is dropped before the degree count.

    All six sufficient statistics (M, sum j, sum k, sum jk, sum j^2,
    sum k^2) are exact integer aggregates; the coefficient combines
    them in double on the O(1) scalar row — deterministic cross-engine
    because IEEE ops on identical inputs round identically. Over the
    symmetrized list M = sum_v d_v, sum j = sum k = sum_v d_v^2 and
    sum j^2 = sum k^2 = sum_v d_v^3, so those four come from the degree
    frame alone; only sum jk = 2 sum_(u,v) d_u d_v needs the edges.
    Shape: one degree groupBy over both endpoint columns + two hash
    joins of the degree frame onto the un-doubled edge list + one
    global agg over the degree rows and the joined edge rows together;
    no windows, no iteration.
    """
    e = edges.select(src, dst).dropna()
    deg = (
        e.select(F.col(src).alias("_n"))
        .unionByName(e.select(F.col(dst).alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    ju = deg.select(F.col("_n").alias("_u"), F.col("d").alias("j"))
    kv = deg.select(F.col("_n").alias("_v"), F.col("d").alias("k"))
    jk = (
        e.join(ju, e[src] == ju["_u"])
        .join(kv, e[dst] == kv["_v"])
        .select((F.col("j") * F.col("k")).alias("jk"))
    )
    # headroom (r8): sum_v d_v^3 is rows-CUBED — a 2e6-degree hub
    # wraps an int64 cube — so the cube is formed in decimal(38,0)
    # and every sum accumulates there (oracle: HUGEINT). The squares
    # d*d and j*k stay int64 — they wrap only past a ~3e9-degree hub,
    # at which point that node owns 3e9 edges — and cast to decimal
    # at the sum (the gini pattern: a cast is far cheaper per row
    # than a decimal multiply).
    dec = "decimal(38,0)"
    none = F.lit(None).cast("long")
    d2 = F.col("d") * F.col("d")
    stats = (
        deg.select("d", none.alias("jk"))
        .unionByName(jk.select(none.alias("d"), "jk"))
        .agg(
            F.coalesce(F.sum("d"), F.lit(0).cast("long")).alias("m_edges"),
            F.sum(d2.cast(dec)).alias("sj"),
            F.sum(d2.cast(dec) * F.col("d").cast(dec)).alias("sj2"),
            (F.sum(F.col("jk").cast(dec)) * 2).alias("sjk"),
        )
    )
    m, sj, sj2, sjk = (
        F.col(c).cast("double") for c in ("m_edges", "sj", "sj2", "sjk")
    )
    den = m * sj2 - sj * sj  # the j and k variances are equal
    return stats.select(
        "m_edges",
        F.round((m * sjk - sj * sj) / F.sqrt(den * den), 9).alias("r"),
    )


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Incremental connected-components maintenance: given yesterday's
    (node, component) labeling and today's NEW edges, produce the
    labeling of the union graph WITHOUT re-running CC over the full
    edge set. This is the shape a daily crawl-dedup job wants: the
    100 TB historical graph contributes only its (much smaller) label
    table; the closure runs on the CONTRACTED graph whose nodes are
    yesterday's components — bounded by the day's novelty, not by
    history.

    Correctness leans on the min-label convention: each old component
    is named by its minimum node id, so the merged component's min
    node id equals the min over the merged OLD labels — contracting
    every new edge to (label(u), label(v)) and running CC on that
    tiny graph yields exactly the labels a full recompute would
    (differential-tested; the registered query's oracle IS the full
    recompute). Nodes first seen today enter as their own label.

    Shape: two broadcast-or-shuffle label joins to contract the new
    edges, CC on the contracted frame (size-gated driver union-find
    for the typical case), one relabel join back. The historical
    EDGE set is never read.
    """
    e = new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    lu = labels.select(
        F.col("node").alias("u"), F.col("component").alias("_cu")
    )
    lv = labels.select(
        F.col("node").alias("v"), F.col("component").alias("_cv")
    )
    contracted = (
        e.join(lu, "u", "left")
        .join(lv, "v", "left")
        .select(
            F.coalesce(F.col("_cu"), F.col("u")).alias("a"),
            F.coalesce(F.col("_cv"), F.col("v")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    merged = connected_components(contracted, src="a", dst="b")
    # every node's base label: existing component, or itself if new
    new_nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .join(labels.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    base = labels.unionByName(new_nodes)
    relabel = merged.select(
        F.col("node").alias("component"),
        F.col("component").alias("_final"),
    )
    return base.join(relabel, "component", "left").select(
        "node",
        F.coalesce(F.col("_final"), F.col("component")).alias(
            "component"
        ),
    )


def deterministic_walks(
    edges: DataFrame,
    starts: DataFrame,
    walks_per_node: int = 2,
    length: int = 3,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Deterministic uniform random walks — the node2vec/DeepWalk
    corpus generator with the repo's replayable-sampling discipline:
    the step taken at (node, walk, step) is neighbor index
    md5(node|walk|step) mod degree over the id-sorted adjacency, so
    every path is a pure function of the graph (the A-ES
    weighted-sample trick applied to walk transitions). No RNG state,
    no seed plumbing, bit-identical on any cluster layout — and an
    unrolled SQL oracle replays every hop.

    Returns (start, walk, path) with path the '->'-joined node
    sequence of ``length`` hops. ``starts`` is a one-column frame.

    Shape: adjacency is ranked once (row_number per node, degree
    attached); each hop is ONE equi-ish join — position joins
    adjacency on (node, chosen index), with the md5-mod-degree choice
    evaluated inside the join condition so no extra degree join is
    needed. |walks| rows flow through length joins: at 100 TB this is
    the standard iterative-join walk engine, shuffling walk rows on
    the current node key each hop while the ranked adjacency stays
    partitioned.
    """
    sym = edges.select(src, dst).unionByName(
        edges.select(F.col(dst).alias(src), F.col(src).alias(dst))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("node").orderBy("nbr")
    adj = (
        sym.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .withColumn("idx", F.row_number().over(w) - 1)
        .withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("node")))
        .localCheckpoint()
    )
    cur = (
        starts.select(F.col(starts.columns[0]).alias("start"))
        .crossJoin(
            F.broadcast(
                starts.sparkSession.range(walks_per_node).select(
                    F.col("id").alias("walk")
                )
            )
        )
        .select(
            "start",
            "walk",
            F.col("start").alias("cur"),
            F.col("start").cast("string").alias("path"),
        )
    )
    for s in range(length):
        choice = F.expr(
            "CAST(conv(substring(md5(concat(CAST(cur AS STRING), '|',"
            f" CAST(walk AS STRING), '|', '{s}')), 1, 15), 16, 10)"
            " AS BIGINT) % deg"
        )
        cur = (
            cur.join(adj, (adj["node"] == cur["cur"]) & (adj["idx"] == choice))
            .select(
                "start",
                "walk",
                F.col("nbr").alias("cur"),
                F.concat(
                    F.col("path"), F.lit("->"), F.col("nbr").cast("string")
                ).alias("path"),
            )
        )
    return cur.select("start", "walk", "path")


def markov_stationary(
    transitions: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str,
    rounds: int = 6,
    micro: int = 1_000_000,
) -> DataFrame:
    """Approximate stationary distribution of the empirical Markov
    chain defined by integer transition counts — "what does the event
    mix converge to if users keep behaving like this", the steady
    state behind any next-event model.

    Power iteration in EXACT integer micro-units (the
    pagerank_quantized discipline on a stochastic instead of a
    column-stochastic-with-teleport matrix):

        v_0[t]   = micro div |states|
        v_{k+1}[b] = sum_a (v_k[a] * c_ab) div r_a

    with c_ab the transition count and r_a = sum_b c_ab the row
    total. ``div`` truncates in both engines, so every round — and
    therefore the whole unrolled recursion — replays bit-for-bit in
    a SQL oracle. Truncation leaks <= |states| micro-units per round
    (documented, deterministic); states without OUTGOING transitions
    drain mass (the chain restricted to observed sources is
    sub-stochastic) — scores are relative weights, not an exactly
    normalized distribution.

    Shape: the (a, b, c, r) frame is O(states^2) — category-sized,
    not event-sized; each round is one tiny join + groupBy. The raw
    event table is touched only to build the counts.
    """
    cnt = transitions.select(
        F.col(src_col).alias("a"),
        F.col(dst_col).alias("b"),
        F.col(weight_col).cast("long").alias("c"),
    )
    r = cnt.groupBy("a").agg(F.sum("c").alias("r"))
    cr = cnt.join(r, "a").cache()  # one consumer per round
    nodes = cr.select("a").distinct()
    n_states = nodes.count()  # scalar; the states frame is tiny
    if n_states == 0:
        raise ValueError("markov_stationary: no transitions")
    v = nodes.select(
        F.col("a").alias("t"),
        F.lit(micro // n_states).cast("long").alias("v"),
    )
    for _ in range(rounds):
        v = (
            cr.join(v, cr["a"] == v["t"])
            .select(
                F.col("b"),
                F.expr("(v * c) div r").alias("_m"),
            )
            .groupBy(F.col("b").alias("t"))
            .agg(F.sum("_m").cast("long").alias("v"))
        )
    return v.select(F.col("t"), F.col("v").alias("v_micro"))


def local_clustering(
    edges: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """Per-node local clustering coefficient on an undirected simple
    graph given as canonical edges (src < dst): lcc(w) = 2*tri(w) /
    (deg(w)*(deg(w)-1)) — what fraction of a node's neighbor pairs
    are themselves connected. triangle_count answers "how clustered
    is the graph"; this says WHERE — the hub whose neighbors never
    co-occur (lcc ~ 0) vs the clique member (lcc = 1). Returns
    (node, degree, triangles, lcc) for every node with degree >= 2
    (degree-1 nodes have no neighbor pair to close).

    Same ordered three-way self-join as triangle_count — each
    triangle (a < b < c) materializes exactly once — then one
    explode of its three corners into per-node counts. Degrees come
    from the symmetrized edge list. All joins are equi-joins on node
    ids; the heavy side is the wedge join, O(sum deg^2), which is
    why callers feed the support-thresholded graph (the ra_linkpred
    density lesson).
    """
    ed = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).cache()  # wedge join uses it three times + degrees
    tri = (
        ed.alias("ab")
        .join(ed.alias("bc"), F.col("ab.v") == F.col("bc.u"))
        .join(
            ed.alias("ac"),
            (F.col("ac.u") == F.col("ab.u"))
            & (F.col("ac.v") == F.col("bc.v")),
        )
        .select(
            F.col("ab.u").alias("a"),
            F.col("ab.v").alias("b"),
            F.col("bc.v").alias("c"),
        )
    )
    per_node = (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    deg = (
        ed.select(F.col("u").alias("node"))
        .unionAll(ed.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias(
                "triangles"
            ),
            F.round(
                2.0
                * F.coalesce("triangles", F.lit(0)).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast(
                    "double"
                ),
                9,
            ).alias("lcc"),
        )
    )
