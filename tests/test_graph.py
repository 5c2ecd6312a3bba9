"""Graph operator tests: CC vs an in-memory union-find oracle on random
graphs (SURVEY §5 — partition equality, not label equality)."""

from __future__ import annotations

import random

from cellphe_data_pipeline_spark.operators.graph import (
    connected_components,
    degree,
    prune_isolated,
    roots,
)


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def _partition(labels: dict[int, int]) -> set[frozenset[int]]:
    groups: dict[int, set[int]] = {}
    for n, c in labels.items():
        groups.setdefault(c, set()).add(n)
    return {frozenset(g) for g in groups.values()}


def test_cc_matches_union_find_random(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 200
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        want = _uf_components(edges)
        assert _partition(got) == _partition(want), f"trial {trial}"
        # engine labels are canonical: component id == min node of component
        for comp in _partition(got):
            assert {got[n] for n in comp} == {min(comp)}


def test_cc_long_path(spark):
    # path graph: worst case for naive propagation; large/small star must
    # converge in O(log n) rounds, well under the max_iter cap
    n = 500
    edges = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n


def test_degree_roots_prune(spark):
    # 1->2->3, 4->3 (merge), 5 isolated (appears in nodes only)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 3)], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "ID bigint")

    deg = {r["node"]: (r["out_degree"], r["in_degree"]) for r in degree(edges).collect()}
    assert deg == {1: (1, 0), 2: (1, 1), 3: (0, 2), 4: (1, 0)}

    kept = sorted(r["ID"] for r in prune_isolated(nodes, edges).collect())
    assert kept == [1, 2, 3, 4]

    rts = sorted(r["ID"] for r in roots(nodes, edges).collect())
    assert rts == [1, 4]


def test_cc_contraction_equivalence(spark):
    """The partition-local contraction pre-pass is connectivity-
    preserving: the distributed path (which contracts first) gives the
    union-find labels, including on random (no id locality) and
    shuffled-id graphs."""
    rng = random.Random(41)
    n = 300
    # scattered ids: destroys range locality on purpose
    ids = rng.sample(range(10_000_000), n)
    edges = [
        (ids[rng.randrange(n)], ids[rng.randrange(n)]) for _ in range(220)
    ]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    with_pre = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert _partition(with_pre) == _partition(_uf_components(edges))
    # the bounded driver-finish fast path (take + central union-find)
    # and the fully distributed alternation must agree exactly
    distributed = {
        r["node"]: r["component"]
        for r in connected_components(df, driver_finish_cap=0).collect()
    }
    assert with_pre == distributed


def test_cc_empty_and_single_edge(spark):
    empty = spark.createDataFrame([], "src bigint, dst bigint")
    assert connected_components(empty).collect() == []
    one = spark.createDataFrame([(7, 3)], "src bigint, dst bigint")
    got = {r["node"]: r["component"] for r in connected_components(one).collect()}
    assert got == {3: 3, 7: 3}


def test_pagerank_fixed_point_vs_python(spark):
    """Integer micro-unit PageRank replayed exactly in python; the hub
    (most-linked) node must outrank leaves."""
    from cellphe_data_pipeline_spark.operators.graph import pagerank

    # star into 1 plus a chain: 1 is the authority
    edges = [(2, 1), (3, 1), (4, 1), (5, 1), (2, 3), (4, 5)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["rank_q"] for r in pagerank(df, iterations=3).collect()}

    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    base = (1_000_000 * 15) // (100 * n)
    r = {v: 1_000_000 // n for v in nodes}
    for _ in range(3):
        s = {v: 0 for v in nodes}
        for u, v in edges:
            s[v] += r[u] // outdeg[u]
        r = {v: base + (s[v] * 85) // 100 for v in nodes}
    assert got == r
    assert got[1] == max(got.values())
    assert all(got[1] > got[v] for v in (2, 4))


def test_pagerank_empty_and_self_loop_only(spark):
    from cellphe_data_pipeline_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src bigint, dst bigint")
    assert pagerank(empty).collect() == []
    loops = spark.createDataFrame([(3, 3), (7, 7)], "src bigint, dst bigint")
    assert pagerank(loops).collect() == []


def test_triangle_counts_oracle(spark):
    """r7: triangle counts equal a brute-force python enumeration on a
    known graph; direction/duplicates/self-loops are canonicalised
    away; triangle-free nodes are absent."""
    import itertools

    from cellphe_data_pipeline_spark.operators.graph import triangle_counts

    # K4 on {1..4} (every vertex in 3 triangles), a pendant (5), a
    # 4-cycle {6,7,8,9} (no triangles), duplicate/reversed/self edges
    edges = (
        [(a, b) for a, b in itertools.combinations([1, 2, 3, 4], 2)]
        + [(4, 5), (6, 7), (7, 8), (8, 9), (9, 6)]
        + [(2, 1), (1, 1), (3, 2)]  # noise: reversed, self, duplicate
    )
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_median_id_hub(spark):
    """r7 review fix: a hub whose id is MEDIAN among its neighbors —
    the case a raw-id edge orientation leaves quadratic — still counts
    correctly under the (degree, id) orientation, which routes every
    hub edge hub-ward and leaves the hub with forward-degree ≤ O(√m)."""
    from cellphe_data_pipeline_spark.operators.graph import triangle_counts

    hub = 500
    spokes = [n for n in range(1000) if n != hub]
    edges = [(hub, s) for s in spokes]  # ids straddle the hub's id
    edges += [(1, 2), (hub, 1), (hub, 2)]  # one triangle {1, 2, hub}
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 1, 2: 1, hub: 1}


def _py_kcore(edges, k):
    """Independent python peeling oracle: iteratively drop nodes of
    degree < k; return {node: induced degree} of the fixpoint."""
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    return {n: len(nb) for n, nb in adj.items() if nb}


def test_kcore_cascades_and_matches_python_oracle(spark):
    """Fixture semantics: a 5-clique survives k=3 intact; a 4-cycle
    with one diagonal collapses at k=3 (peeling the two degree-2
    corners strands the propped-up diagonal pair); a pendant chain
    unravels node by node at k=2. Then the full output on a seeded
    pseudo-random graph must equal the independent python peeling
    oracle for several k."""
    from cellphe_data_pipeline_spark.operators.graph import kcore

    clique = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    diamond = [(6, 7), (7, 8), (8, 9), (9, 6), (6, 8)]
    chain = [(5, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(
        clique + diamond + chain, "src bigint, dst bigint"
    )
    got3 = {r["node"]: r["core_degree"] for r in kcore(edges, k=3).collect()}
    assert got3 == {1: 4, 2: 4, 3: 4, 4: 4, 5: 4}
    got2 = {r["node"]: r["core_degree"] for r in kcore(edges, k=2).collect()}
    # chain unravelled entirely; clique + diamond survive at k=2
    assert set(got2) == {1, 2, 3, 4, 5, 6, 7, 8, 9}
    assert got2[7] == 2 and got2[6] == 3
    # seeded pseudo-random graph vs the python oracle
    rnd = [((i * 37) % 50, (i * 61 + 13) % 50) for i in range(300)]
    e2 = spark.createDataFrame(rnd, "src bigint, dst bigint")
    for k in (2, 3, 5):
        want = _py_kcore(rnd, k)
        got = {r["node"]: r["core_degree"] for r in kcore(e2, k=k).collect()}
        assert got == want, f"k={k}"


def _py_bfs(edges: list[tuple[int, int]], seeds: set[int], max_hops: int) -> dict[int, int]:
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    nxt.add(v)
        for v in nxt:
            dist[v] = h
        if not nxt:
            break
        frontier = nxt
    return dist


def test_bfs_hops_fixture_and_python_oracle(spark):
    """Fixture semantics: min-over-sources wins (a node reachable at 1
    hop from seed B and 3 from seed A gets 1); max_hops truncates the
    map (nodes beyond the bound are ABSENT, not capped); self-loops and
    disconnected nodes never appear. Then the full map on a seeded
    pseudo-random graph must equal the python BFS for several bounds."""
    from cellphe_data_pipeline_spark.operators.graph import bfs_hops

    # path 1-2-3-4-5, seed at both ends {1, 5}: 3 is 2 hops from either
    path = [(1, 2), (2, 3), (3, 4), (4, 5), (9, 9)]  # + a self-loop
    edges = spark.createDataFrame(path, "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,), (5,)], "node bigint")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=8).collect()}
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}
    # bound truncates: from seed 1 only, max_hops=2 reaches 1,2,3
    s1 = spark.createDataFrame([(1,)], "node bigint")
    got2 = {r["node"]: r["hops"] for r in bfs_hops(edges, s1, max_hops=2).collect()}
    assert got2 == {1: 0, 2: 1, 3: 2}
    # seeded pseudo-random graph vs the python oracle
    rnd = [((i * 37) % 60, (i * 61 + 13) % 60) for i in range(150)]
    e2 = spark.createDataFrame(rnd, "src bigint, dst bigint")
    sd = {0, 7, 21}
    sdf = spark.createDataFrame([(s,) for s in sd], "node bigint")
    for bound in (1, 3, 8):
        want = _py_bfs(rnd, sd, bound)
        got = {
            r["node"]: r["hops"]
            for r in bfs_hops(e2, sdf, max_hops=bound).collect()
        }
        assert got == want, f"max_hops={bound}"


def test_hierarchy_rollup_closure_fixture(spark, tmp_path):
    """g9's recursive closure on a hand-computed 13-node 3-ary tree
    (ids 0..12, parent = floor((c-1)/3), one doc per category):
    subtree counts 13 at the root, 4 at each internal node, 1 at the
    leaves; char sums follow the same closure."""
    import os

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.queries import REGISTRY

    rows = [(i, "x" * (10 * (i + 1))) for i in range(13)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string").select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("s").alias("source"), F.length("text").cast("bigint").alias("n_chars"),
    )
    d = str(tmp_path / "g9fix")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {r["category"]: (r["n_docs"], r["sum_chars"])
           for r in REGISTRY["g9_hierarchy_rollup"].fn(spark, d).collect()}
    chars = {i: 10 * (i + 1) for i in range(13)}
    kids = {0: [1, 2, 3], 1: [4, 5, 6], 2: [7, 8, 9], 3: [10, 11, 12]}

    def subtree(c):
        out_ = {c}
        for k in kids.get(c, []):
            out_ |= subtree(k)
        return out_

    want = {
        c: (len(subtree(c)), sum(chars[m] for m in subtree(c)))
        for c in range(13)
    }
    assert out == want


def test_common_neighbor_scores_match_hand_computation(spark):
    from cellphe_data_pipeline_spark.operators.graph import (
        common_neighbor_scores,
    )

    # supplier -> parts: s1={p1,p2,p3}, s2={p2,p3}, s3={p3}, s4={p9}
    inc = spark.createDataFrame(
        [
            (1, 101), (1, 102), (1, 103),
            (2, 102), (2, 103),
            (3, 103),
            (4, 109),
            (1, 101),  # duplicate incidence must not double-count
        ],
        "supp bigint, part bigint",
    )
    out = {
        (r["node_a"], r["node_b"]): (r["n_common"], r["jaccard"])
        for r in common_neighbor_scores(inc, "supp", "part").collect()
    }
    # (1,2): common {p2,p3}=2, union 3 -> 2/3; (1,3): common {p3}=1, union 3
    # (2,3): common {p3}=1, union 2; s4 shares nothing -> absent
    assert out[(1, 2)] == (2, round(2 / 3, 6))
    assert out[(1, 3)] == (1, round(1 / 3, 6))
    assert out[(2, 3)] == (1, 0.5)
    assert len(out) == 3


def test_common_neighbor_hub_cap_drops_hub_pairs(spark):
    from cellphe_data_pipeline_spark.operators.graph import (
        common_neighbor_scores,
    )

    # part 999 is a hub shared by all four suppliers; part 101 only by 1,2
    rows = [(s, 999) for s in (1, 2, 3, 4)] + [(1, 101), (2, 101)]
    inc = spark.createDataFrame(rows, "supp bigint, part bigint")
    capped = {
        (r["node_a"], r["node_b"]): r["n_common"]
        for r in common_neighbor_scores(
            inc, "supp", "part", max_neighbor_degree=2
        ).collect()
    }
    # only the non-hub co-occurrence survives pairing; the denominator
    # still uses the FULL degree (documented: capping changes scores)
    assert list(capped) == [(1, 2)] and capped[(1, 2)] == 1


def test_common_neighbor_hub_cap_bounds_pair_volume_on_power_law(spark):
    """r12 (verdict ask #2): the `max_neighbor_degree` knob was
    measured as a NO-OP on the flat-degree synthetic tables (SCALE.md
    r11) — prove on a POWER-LAW fixture that the cap actually bounds
    candidate-pair volume where it matters. Candidate volume is
    observable as SUM(n_common) over the output (each surviving
    candidate row contributes exactly 1 to one pair's count), so the
    Σ_nbr d(d-1)/2 accounting can be asserted exactly, and the growth
    exponent β measured across a 10x node scale-up: the hub term makes
    uncapped volume quadratic (β≈2) while the capped volume obeys the
    analytic bound volume <= (cap-1)/2 * |incidence| and stays LINEAR
    (β=1)."""
    import math

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.graph import (
        common_neighbor_scores,
    )

    def powerlaw(n):
        # one hub neighbor shared by ALL n nodes (the power-law head),
        # n/4 mid neighbors of degree 4 (disjoint blocks), n tail
        # neighbors of degree 2 (a ring) — a 3-decade degree skew
        rows = [(i, "hub") for i in range(n)]
        for b in range(n // 4):
            rows += [(b * 4 + i, f"m{b}") for i in range(4)]
        for k in range(n):
            rows += [(k, f"t{k}"), ((k + 1) % n, f"t{k}")]
        return spark.createDataFrame(rows, "node bigint, nbr string")

    cap = 4

    def volume(n, capped):
        out = common_neighbor_scores(
            powerlaw(n), "node", "nbr",
            max_neighbor_degree=cap if capped else None,
        )
        return out.agg(F.sum("n_common")).collect()[0][0]

    # exact accounting: uncapped = C(n,2) [hub] + (n/4)*C(4,2) [mid]
    # + n*C(2,2... i.e. 1) [tail] = n(n-1)/2 + 2.5n; capped = 2.5n
    for n in (40, 400):
        assert volume(n, capped=False) == n * (n - 1) // 2 + int(2.5 * n)
        assert volume(n, capped=True) == int(2.5 * n)
        # the analytic bound the docstring promises: each kept neighbor
        # has d <= cap, so volume <= (cap-1)/2 * |incidence rows|
        inc_rows = n + n + 2 * n
        assert volume(n, capped=True) <= (cap - 1) / 2 * inc_rows
        assert volume(n, capped=False) > (cap - 1) / 2 * inc_rows  # hub breaks it

    # measured growth exponent over the 10x scale-up
    beta_uncapped = math.log(80_800 / 880) / math.log(10)
    beta_capped = math.log(1000 / 100) / math.log(10)
    assert beta_uncapped > 1.9   # hub-driven: quadratic
    assert beta_capped == 1.0    # cap restores linearity

    # capping changes SCORES exactly as documented: numerator loses the
    # hub, denominator keeps FULL degrees. Nodes 0,1 share hub+m0+t0;
    # deg(0)=deg(1)=4 -> capped jaccard = 2/(4+4-2)
    got = {
        (r["node_a"], r["node_b"]): (r["n_common"], r["jaccard"])
        for r in common_neighbor_scores(
            powerlaw(40), "node", "nbr", max_neighbor_degree=cap
        ).collect()
    }
    assert got[(0, 1)] == (2, round(2 / 6, 6))


def test_cc_auto_loop_partitions_matches_and_restores_conf(spark, monkeypatch):
    """The closure loop sizes its shuffles from the materialized edge
    count (SCALE.md third-decade finding) and changes the session's
    shuffle-partition conf only for the loop: labels equal the
    union-find oracle on the fully distributed path (cap=0), and the
    conf is back to its value after the call, also when the loop
    raises."""
    import random

    import pytest

    from cellphe_data_pipeline_spark.operators import graph

    rng = random.Random(7)
    n = 400
    ids = rng.sample(range(1_000_000), n)
    edges = [
        (ids[rng.randrange(n)], ids[rng.randrange(n)]) for _ in range(300)
    ]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    auto = {
        r["node"]: r["component"]
        for r in connected_components(df, driver_finish_cap=0).collect()
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    assert _partition(auto) == _partition(_uf_components(edges))
    assert all(auto[v] == min(c) for c in _partition(auto) for v in c)

    seen = []

    def failing_contract(e, num_parts):
        seen.append(e.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        raise RuntimeError("contraction failed")

    monkeypatch.setattr(graph, "_contract_local", failing_contract)
    with pytest.raises(RuntimeError, match="contraction failed"):
        connected_components(df, driver_finish_cap=0)
    assert seen == ["2"]  # 300 edges: the [2, 2x parallelism] floor
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
