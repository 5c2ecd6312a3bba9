"""Track-lineage graph operators (G1-G4 — SURVEY §2.9).

Reference: parse_xml.py:83-163 — an in-memory DFS over the TrackMate
spot graph (splits renumber, merges first-wins). That approach needs
the whole graph on one node; the engine's primitives are iterative
DataFrame joins that scale to edge sets far beyond single-node memory:

- ``degree`` / ``prune_isolated`` (G2, parse_xml.py:115-118)
- ``roots`` (G3, parse_xml.py:120-122): anti-join on target ids
- ``connected_components`` (basis for G4 track partitioning): the
  alternating large-star / small-star algorithm (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14) — converges
  in O(log d) rounds even on path graphs, where naive min-label
  propagation needs O(diameter) rounds. Each round is two shuffles on
  node id; intermediate frames are localCheckpoint()ed to cut lineage
  growth (without it, round N replays rounds 1..N-1).

G4's split/merge *renumbering* is traversal-order-dependent in the
reference; the engine's contract (SURVEY §7) is set-partition equality,
for which connected components over the pruned edge set is the
deterministic canonical form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cellphe_data_pipeline_spark.checkpoint import cut_lineage
from cellphe_data_pipeline_spark.session import session_confs
from cellphe_data_pipeline_spark.sources.io import empty_with_schema, from_driver_rows


def degree(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, out_degree, in_degree); nodes absent from edges don't appear."""
    out_d = edges.groupBy(F.col(src).alias("node")).agg(F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col(dst).alias("node")).agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        out_d.join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def prune_isolated(nodes: DataFrame, edges: DataFrame, id_col: str = "ID") -> DataFrame:
    """G2: drop nodes participating in no edge (parse_xml.py:115-118)."""
    touched = (
        edges.select(F.col(edges.columns[0]).alias(id_col))
        .union(edges.select(F.col(edges.columns[1]).alias(id_col)))
        .distinct()
    )
    return nodes.join(touched, id_col, "left_semi")


def roots(nodes: DataFrame, edges: DataFrame, id_col: str = "ID", dst: str | None = None) -> DataFrame:
    """G3: nodes with no incoming edge, among non-isolated nodes."""
    dst = dst or edges.columns[1]
    pruned = prune_isolated(nodes, edges, id_col)
    targets = edges.select(F.col(dst).alias(id_col)).distinct()
    return pruned.join(targets, id_col, "left_anti")


def _union_find():
    """Shared in-memory union-find (path-halving find, union by MIN id —
    so every root is its component's minimum, the engine's canonical CC
    label). ONE implementation used by both the partition-local
    contraction kernel and the bounded driver-finish path: the two must
    stay exactly equivalent for driver == distributed to hold."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    def union(u, v):
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv

    return parent, find, union


def _contract_local(e: DataFrame, num_parts: int) -> DataFrame:
    """Partition-local contraction pre-pass for connected components.

    Range-partition the edge list by ``u`` and run an in-memory
    union-find inside each partition, replacing the partition's edges
    with a STAR on each local component (node -> local min id). This is
    connectivity-preserving — the union of the per-partition stars has
    exactly the same components as the input — but it collapses every
    intra-partition path to diameter 2, so the distributed alternation
    afterwards only has to merge ACROSS partition boundaries:
    O(log num_parts) rounds instead of O(log graph_diameter).

    Why range (not hash) partitioning: graph node ids produced by this
    engine are locality-bearing (event ids are time-ordered; spot ids
    are (timelapse, frame, mask) bit-packs), so consecutive chain edges
    land in the same range block and the local union-find swallows whole
    chain segments. Under adversarial (random) id layouts the pre-pass
    degrades gracefully: stars are small but the alternation is no worse
    than without it. One extra shuffle + one Arrow-batched pass; at
    cluster scale each task's union-find holds only its partition's
    endpoints (~edge_bytes/num_parts), not the graph.
    """
    import pandas as pd

    def star(batches):
        parent, find, union = _union_find()
        for pdf in batches:
            for u, v in zip(pdf["u"].values, pdf["v"].values):
                union(u, v)
        nodes = list(parent)
        # object dtype keeps the kernel id-type-agnostic (string-keyed
        # corpora are valid CC inputs); Arrow coerces per e.schema
        out = pd.DataFrame(
            {
                "u": pd.Series(nodes, dtype=object),
                "v": pd.Series([find(n) for n in nodes], dtype=object),
            }
        )
        yield out[out["u"] != out["v"]]

    return e.repartitionByRange(num_parts, "u").mapInPandas(star, e.schema)


#: contracted-edge count under which the CC alternation is FINISHED on
#: the driver in one union-find pass (~16 bytes/row ⇒ the cap is ~16 MB
#: of driver memory). Same bounded-smallness pattern as lineage's
#: TRACK_DIM_DRIVER_CAP, and the same runtime-adaptive rationale as
#: AQE demoting a shuffle join to broadcast: after the partition-local
#: contraction the surviving
#: cross-partition star graph is usually orders of magnitude smaller
#: than the input, and ONE take() + in-memory union-find replaces
#: O(log n) scheduled rounds of (2 shuffles + checkpoint + probe) —
#: the dominant cost of iterative CC on all but genuinely huge graphs.
#: Beyond the cap the distributed alternation runs unchanged.
CC_DRIVER_FINISH_CAP = 1_000_000


def _finish_on_driver(spark, e: DataFrame, pdf) -> DataFrame:
    """Union-find the (u, v) edge frame ``pdf`` (pandas, fetched via the
    Arrow collect path) and return the (node, component=min id) labels
    as a size-known local relation.

    Both boundary crossings ride Arrow (r16): ``toPandas`` on the fetch
    and ``from_driver_rows`` on the return replace the Row-pickle
    ``take()`` / list-of-tuples ``createDataFrame`` pair, which spent
    ~0.9s of g4's 1.9s bench time serialising ~100k rows each way
    (guide §6 "Arrow for driver transfers"). ``Series.tolist()`` yields
    plain Python scalars, so the union-find dict and the min-id labels
    are value-identical to the Row path; the explicit DDL schema pins
    the return types to the edge column type exactly as before.
    """
    parent, find, union = _union_find()
    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        union(u, v)
    node_type = dict(e.dtypes)["u"]
    schema = f"node {node_type}, component {node_type}"
    return from_driver_rows(spark, [(n, find(n)) for n in parent], schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    driver_finish_cap: int = CC_DRIVER_FINISH_CAP,
) -> DataFrame:
    """Undirected connected components → (node, component=min node id).

    Alternating large-star/small-star; terminates when an iteration
    changes nothing. Each operation is a key-partitioned shuffle —
    no driver-side graph state, so the edge set can exceed any single
    machine's memory.

    Loop sizing: per-round shuffles carry only the shrinking edge list,
    so the loop's shuffle-partition count tracks EDGE volume, not the
    session default sized for base-table scans. It is derived from the
    materialised edge count CC takes anyway — ~2M edges (≈64 MiB at
    ~32 B/row) per partition, clamped to [2, 2×defaultParallelism] —
    and set only for the loop's duration (restored after, also when the
    loop raises). A fixed count is right only at the scale it was
    measured at: 2 partitions suits a 5k-doc closure (~256k pairs), but
    at 50k docs the same 2 carried a 149 MB closure stage as two tasks
    (SCALE.md, third-decade probe).

    ``driver_finish_cap``: see CC_DRIVER_FINISH_CAP; pass 0 to force the
    fully distributed loop (the property tests exercise both paths).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def large_star(e: DataFrame) -> DataFrame:
        # Per the paper: treat edges as unordered (process from BOTH
        # endpoints — re-symmetrizing every round is what makes the
        # alternation correct); for each u, rewire every strictly-larger
        # neighbor v to m = min(Γ(u) ∪ {u}).
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("mn"))
        # no distinct here: small_star's oriented .distinct() dedups the
        # round's output anyway — saves one full shuffle per round
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # Orient each edge high -> low; for each u, rewire its smaller
        # neighborhood (and u itself) to its minimum. No distinct on the
        # oriented set: duplicates change neither min() nor the join's
        # rewired targets, and the round output is de-duped below —
        # dropping the extra shuffle is ~30% per round (measured sf0.1).
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = oriented.groupBy("u").agg(F.min("v").alias("mn"))
        return (
            oriented.join(m, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(m.select(F.col("u"), F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    spark = edges.sparkSession
    # materialise the RAW distinct edge list first (r16): its count
    # sizes the loop and decides whether the bounded driver finish can
    # run directly on the raw edges, SKIPPING the contraction pre-pass
    # entirely. Contraction exists to collapse intra-partition paths for
    # the distributed alternation; when the whole edge list fits the
    # driver cap the union-find swallows raw edges just as well (same
    # shared union-find, identical min-id labels), and skipping saves
    # the RangePartitioner sampling job, one Python kernel wave, and one
    # checkpoint per call (measured ~0.5-0.9s/call at bench scale; guide
    # §1.2 "don't compute things you throw away"). Checkpointing the raw
    # list before contraction also stops the contraction's range-
    # sampling pass from re-executing the upstream lineage.
    # LAZY cut + count as the materialising action (r16): the count's
    # job does the storing — one pass over the edge build instead of two
    # (~0.25s/call at bench scale), and the loop's multi-reference
    # rounds read stored blocks. (Under the replicated-checkpoint conf
    # the cut is eager parquet regardless — the count is then a
    # metadata-cheap parquet count.)
    e = cut_lineage(e, eager=False, name="cc-edges")
    n_edges = e.count()
    if driver_finish_cap and n_edges <= driver_finish_cap:
        return _finish_on_driver(spark, e, e.toPandas())
    parallelism = spark.sparkContext.defaultParallelism
    loop_parts = max(2, min(2 * parallelism, -(-n_edges // 2_000_000)))
    with session_confs(spark, {"spark.sql.shuffle.partitions": loop_parts}):
        e = cut_lineage(
            _contract_local(e, max(2, parallelism // 4)), name="cc-contracted"
        )
        if driver_finish_cap:
            # bounded driver finish (see CC_DRIVER_FINISH_CAP): the raw
            # list was over the cap, but contraction may have shrunk the
            # surviving star graph under it — probe with one
            # limit-pushed fetch on the checkpointed list; within the
            # cap, finish the union-find centrally and return a
            # size-known local relation (so the caller's label join can
            # BROADCAST it).
            pdf = e.limit(driver_finish_cap + 1).toPandas()
            if len(pdf) <= driver_finish_cap:
                return _finish_on_driver(spark, e, pdf)
        prev_hash: tuple | int = -1
        for i in range(max_iter):
            # LAZY checkpoint mark + the convergence probe as the
            # materialising action: the probe's partial aggregate rides
            # the same job that computes (and thereby checkpoints) the
            # round's edge partitions — ONE job per round instead of a
            # materialise job followed by a probe job (r6; measured
            # sf0.1 warm: 2.4s -> ~2.2s). Post-contraction the loop
            # converges in O(log num_parts) rounds, so probing every
            # round beats running up to 2 redundant rounds.
            e = cut_lineage(small_star(large_star(e)), eager=False, name="cc-round")
            # xxhash64 keeps the probe id-type-agnostic (string node
            # ids are valid); the decimal(38,0) sum cannot overflow
            # (19-digit terms x row count vs 38 digits of headroom)
            h = (
                e.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")
                    ).alias("s"),
                ).first()
            )
            cur = (h["n"], h["s"])
            if cur == prev_hash:
                break
            prev_hash = cur

    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    mins = labels.groupBy("node").agg(F.min("component").alias("component"))
    comp_ids = mins.select(F.col("component").alias("node"), F.col("component"))
    return mins.union(comp_ids).groupBy("node").agg(F.min("component").alias("component"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Fixed-point PageRank — the link-authority score web-corpus
    curation weighs domains/documents by (public technique; the
    CommonCrawl-style quality prior).

    All arithmetic is INTEGER on a 1e-6 grid: ranks are int64
    micro-units, a node's per-edge contribution is rank div out_degree
    (truncating integer division — exact and identical in any engine),
    the in-neighbor SUM is an order-independent int64 reduction, and
    damping applies as (sum * damping_pct) div 100. Every quantity is
    therefore bit-equal at any partitioning / engine — the float
    formulation's unordered double sums are not. Deviation from float
    PageRank is O(1e-6) per term; dangling-mass redistribution is
    deliberately omitted (documented deviation — rank leaks at sinks,
    as in the common sparse formulation).

    Scale shape per iteration: ONE combinable groupBy(dst) int64 sum +
    one join of the rank vector to the out-degree table — both shuffles
    keyed on node id; the rank vector is one int64 per node. The loop
    localCheckpoints per round (lineage cut, same as the CC loop).
    Output: (node, rank_q BIGINT micro-units).
    """
    e = (
        cut_lineage(
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            name="pr-edges",
        )
    )
    nodes = (
        cut_lineage(
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .distinct(),
            name="pr-nodes",
        )
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty (or self-loop-only) edge set: empty result, same schema
        # — mirrors connected_components' empty-graph behavior
        node_type = dict(e.dtypes)["u"]
        return empty_with_schema(
            edges.sparkSession, f"node {node_type}, rank_q bigint"
        )
    outdeg = e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    base_q = (scale * (100 - damping_pct)) // (100 * n_nodes)
    init_q = scale // n_nodes
    ranks = nodes.withColumn("rank_q", F.lit(init_q).cast("bigint"))
    for _ in range(iterations):
        contrib = (
            ranks.join(outdeg, "node")
            .join(e, ranks["node"] == e["u"])
            .select(
                F.col("v").alias("node"),
                F.expr("rank_q div outdeg").alias("c"),
            )
        )
        ranks = (
            nodes.join(
                contrib.groupBy("node").agg(F.sum("c").alias("s")), "node", "left"
            )
            .select(
                "node",
                (
                    F.lit(base_q).cast("bigint")
                    + F.expr(f"coalesce(s, 0L) * {damping_pct} div 100")
                ).alias("rank_q"),
            )
        )
        ranks = cut_lineage(ranks, name="pr-ranks")
    return ranks


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node TRIANGLE counts (r7) — the clustering-coefficient
    numerator; in corpus curation, the dedup-cluster quality signal
    (a near-dup cluster whose pair graph is triangle-dense is one true
    duplicate group; a triangle-free star is more likely an LSH-band
    artifact chaining unrelated docs through a hub).

    Degree-ordered node-iterator form (Cohen's MapReduce triangle
    algorithm; also Latapy 2008): canonicalise to a distinct
    undirected edge set, compute degrees, then orient every edge from
    the endpoint that is SMALLER in the total order (degree, id) to
    the larger. Wedges are pairs of out-neighbors of a common apex —
    e(a,b) ⋈ e(a,c) on the apex with ord(b) < ord(c) — closed by a
    semi-join against the oriented edge (b,c). Every triangle is found
    exactly once (at its minimum-order corner), then credited to all 3
    corners by one explode before a combinable count. Shuffles are
    keyed equi-joins on node ids (never a cartesian). The DEGREE
    ordering (not raw id) is what bounds the wedge set: forward degree
    under (deg, id) orientation is O(√m) for every node, so the wedge
    join is Σ outdeg(a)² ≤ m·√m even when an LSH-band hub has millions
    of neighbors — a raw-id orientation would leave a median-id hub
    with ~d²/4 wedges. Output: (node, n_triangles); nodes in no
    triangle are absent.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient each undirected edge from the (deg, id)-smaller endpoint to
    # the larger; carry the head's order key for the wedge inequality.
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ord_a = F.struct(F.col("deg_a").alias("d"), F.col("a").alias("n"))
    ord_b = F.struct(F.col("deg_b").alias("d"), F.col("b").alias("n"))
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(ord_a < ord_b, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(ord_a < ord_b, F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.when(ord_a < ord_b, ord_b).otherwise(ord_a).alias("ord_hi"),
        )
    )
    w1 = oriented.select(
        F.col("lo").alias("apex"), F.col("hi").alias("b"), F.col("ord_hi").alias("ord_b")
    )
    w2 = oriented.select(
        F.col("lo").alias("apex"), F.col("hi").alias("c"), F.col("ord_hi").alias("ord_c")
    )
    closure = oriented.select(F.col("lo").alias("tb"), F.col("hi").alias("tc"))
    tri = (
        w1.join(w2, "apex")
        .filter(F.col("ord_b") < F.col("ord_c"))
        .join(
            closure,
            (F.col("b") == F.col("tb")) & (F.col("c") == F.col("tc")),
            "left_semi",
        )
        .select(F.col("apex").alias("a"), "b", "c")
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """k-CORE decomposition membership (r10) → (node, core_degree):
    the maximal subgraph where every node keeps degree >= k, found by
    iterative PEELING — remove all nodes of degree < k, recompute
    degrees on the induced subgraph, repeat to fixpoint. Removing one
    layer can cascade (a pendant chain unravels node by node; a
    diamond whose low-degree corners prop each other up collapses once
    either goes), which is why the operation is iterative and not
    expressible as a monotone recursive CTE — the oracle for the g7
    driver query is therefore a hand-verifiable golden fixture, and
    the larger-graph truth is a python peeling oracle in tests (the
    m3-family pattern).

    In corpus curation this is the web-graph quality primitive
    triangle_counts complements: a document/link graph's high-k core
    is its densely-interlinked nucleus, while low-core nodes are
    periphery/spam (the classic k-core web-spam signal); on a dedup
    pair graph, core number separates true duplicate clusters (high
    core) from LSH hub-chains (core 1-2).

    Scale shape (the CC loop's discipline): each round is ONE degree
    aggregation + TWO semi joins on the shrinking symmetrized edge
    list — key-partitioned shuffles only, no driver-side graph state;
    rounds are lineage-cut lazily and the convergence probe (edge
    count — peeling shrinks monotonically, so equal count == fixpoint)
    rides the same job. Peeling depth is bounded by the graph's
    degeneracy ordering; ``max_iter`` is the runaway backstop."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = cut_lineage(sym.distinct(), name="kcore-edges")
    prev_n = -1
    for _ in range(max_iter):
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
        keep = deg.filter(F.col("_deg") >= k).select("u")
        nxt = (
            sym.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
        )
        nxt = cut_lineage(nxt, eager=False, name="kcore-round")
        n = nxt.count()
        sym = nxt
        # monotone shrinkage: equal edge count == identical edge set
        if n == prev_n:
            break
        prev_n = n
        if n == 0:
            break
    return (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .select(F.col("u").alias("node"), "core_degree")
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Multi-source BFS hop distance (r10) → (node, hops): for every
    node reachable from the source set within ``max_hops`` undirected
    hops, the MINIMUM number of hops from any source. The web-curation
    use is crawl-frontier / seed-distance scoring (quality seeds at
    hops 0, distance-decayed trust outward — the classic seed-set
    propagation signal) and, on a dedup pair graph, "how far is this
    doc from a known-bad cluster". Complements connected_components
    (which answers reachability but not distance) and kcore/pagerank
    (density/centrality).

    Algorithm: level-synchronous frontier expansion. ``dist`` starts
    as the sources at hops 0; each round joins ONLY the current
    frontier (the previous round's newly-discovered nodes — shrinking,
    usually tiny relative to the graph) against the symmetrized edge
    list, anti-joins the visited set, and tags survivors with the
    round number. BFS level-order guarantees first-discovery == min
    hops, so no per-node min state is ever reconciled.

    Scale shape: per round ONE equi-join keyed on the frontier (a
    1000-executor cluster broadcasts it while it is small — AQE's
    runtime promotion does this without hints) + ONE left-anti join
    against the visited set, both key-partitioned; rounds are
    lineage-cut and the empty-frontier convergence probe rides the
    count. Rounds are bounded by min(max_hops, eccentricity of the
    source set). No driver-side graph state — the visited set lives
    partitioned across the cluster.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = cut_lineage(sym.distinct(), name="bfs-edges")
    dist = (
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("bigint"))
    )
    dist = cut_lineage(dist, name="bfs-sources")
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        nbrs = (
            sym.join(frontier.withColumnRenamed("node", "u"), "u", "left_semi")
            .select(F.col("v").alias("node"))
            .distinct()
        )
        fresh = nbrs.join(dist.select("node"), "node", "left_anti").withColumn(
            "hops", F.lit(h).cast("bigint")
        )
        fresh = cut_lineage(fresh, eager=False, name=f"bfs-round-{h}")
        if fresh.count() == 0:
            break
        dist = cut_lineage(
            dist.union(fresh), eager=False, name=f"bfs-dist-{h}"
        )
        frontier = fresh.select("node")
    return dist


def common_neighbor_scores(
    incidence: DataFrame,
    node_col: str,
    neighbor_col: str,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """Link-prediction scores over a bipartite incidence list (r11,
    g10): for every pair of nodes sharing at least one neighbor,
    emit the common-neighbor count and the Jaccard coefficient of
    their neighbor sets — the collaborative-filtering / related-item
    primitive (nodes = suppliers, neighbors = parts ⇒ "suppliers with
    overlapping catalogs"; nodes = docs, neighbors = shingles ⇒ d5's
    pairwise-Jaccard, which this generalizes to ANY co-occurrence
    relation).

    Physical shape: distinct the incidence list, self-equi-join on the
    NEIGHBOR (never node×node — candidate pairs are generated only
    where overlap exists), node_a < node_b to halve the space, one
    combinable groupBy for the pair counts, then two broadcast-able
    joins against the per-node degree table. The scale hazard is the
    hub neighbor: a neighbor shared by d nodes emits d(d-1)/2 pairs,
    so cost is Σ_neighbors d². ``max_neighbor_degree`` is the standard
    mitigation (drop neighbors above the cap before pairing — a
    stopword-style frequency cut: a neighbor half the corpus shares
    carries no signal and dominates the cost; d12/d16 apply the same
    cut to dedup shingles). The cap changes SCORES (capped neighbors
    leave the numerator but not the denominator), so the default is
    None and callers opt in."""
    inc = (
        incidence.select(
            F.col(node_col).alias("node"), F.col(neighbor_col).alias("nbr")
        )
        .filter(F.col("node").isNotNull() & F.col("nbr").isNotNull())
        .distinct()
    )
    deg = inc.groupBy("node").agg(F.count(F.lit(1)).alias("n_nbrs"))
    paired = inc
    if max_neighbor_degree is not None:
        keep = (
            inc.groupBy("nbr")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") <= max_neighbor_degree)
            .select("nbr")
        )
        paired = inc.join(keep, "nbr", "left_semi")
    x = paired.select(F.col("node").alias("node_a"), "nbr")
    y = paired.select(F.col("node").alias("node_b"), "nbr")
    pairs = (
        x.join(y, "nbr")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("n_nbrs").alias("_na"))
    db = deg.select(F.col("node").alias("node_b"), F.col("n_nbrs").alias("_nb"))
    return pairs.join(da, "node_a").join(db, "node_b").select(
        "node_a",
        "node_b",
        "n_common",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("n_common")).cast("double"),
            6,
        ).alias("jaccard"),
    )
