"""Connected components / BFS / degree vs pure-Python oracles on seeded
random graphs (FIXTURES.md §6)."""

from __future__ import annotations

import random

import pytest

from agraph_spark.operators.analytics import degree_per_node, isolated_nodes
from agraph_spark.operators.components import bfs_distances, connected_components


def random_graph(n_nodes, n_edges, seed):
    rng = random.Random(seed)
    nodes = [f"n{i:04d}" for i in range(n_nodes)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(n_edges)
    ]
    return nodes, edges


def py_components(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def py_bfs(nodes, edges, start, max_depth):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {start: 0}
    frontier = [start]
    for d in range(1, max_depth + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    return dist


@pytest.mark.parametrize("n,m,seed", [(50, 40, 1), (300, 500, 2), (100, 30, 3)])
def test_components_vs_unionfind(spark, forced_path, n, m, seed):
    nodes, edges = random_graph(n, m, seed)
    ndf = spark.createDataFrame([(x,) for x in nodes], "entity_id string")
    edf = spark.createDataFrame(edges, "head_id string, tail_id string")
    got = {
        r.entity_id: r.component for r in connected_components(edf, ndf).collect()
    }
    want = py_components(nodes, edges)
    # same partitioning into components, with min-id canonical labels
    assert got == want
    # the adaptive small-graph cutover (round 5) and the distributed
    # hash-min loop must label identically — force the loop and compare
    with forced_path("distributed"):
        dist = {
            r.entity_id: r.component
            for r in connected_components(edf, ndf).collect()
        }
    assert dist == want


@pytest.mark.parametrize("seed", [5, 6])
def test_bfs_vs_python(spark, forced_path, seed):
    nodes, edges = random_graph(120, 200, seed)
    edf = spark.createDataFrame(edges, "head_id string, tail_id string")
    start = nodes[0]
    got = {r.entity_id: r.dist for r in bfs_distances(edf, start, max_depth=5).collect()}
    want = py_bfs(nodes, edges, start, 5)
    assert got == want
    # adaptive cutover (round 5) vs the distributed frontier loop
    with forced_path("distributed"):
        forced = {r.entity_id: r.dist for r in
                  bfs_distances(edf, start, max_depth=5).collect()}
    assert forced == want


def test_degree_and_isolated(spark):
    ndf = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "entity_id string")
    edf = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "c"), ("c", "c")],
        "head_id string, tail_id string",
    )
    deg = {r.entity_id: (r.in_degree, r.out_degree, r.degree)
           for r in degree_per_node(ndf, edf).collect()}
    # self-loop counts both in and out (graph_analyzer.py:138-171)
    assert deg == {"a": (0, 2, 2), "b": (2, 1, 3), "c": (2, 1, 3), "d": (0, 0, 0)}
    iso = [r.entity_id for r in isolated_nodes(ndf, edf).collect()]
    assert iso == ["d"]


def test_reliable_checkpoint_dir(spark, forced_path, tmp_path):
    """A checkpoint directory on the context switches every distributed
    loop's lineage cut from executor-memory localCheckpoint to reliable
    checkpoints (they survive executor loss on a real cluster); results
    are identical to the default path. The directory is unset afterwards,
    or every later loop in the session would checkpoint into a deleted
    pytest dir."""
    import os

    from agraph_spark.operators.analytics import pagerank
    from agraph_spark.operators.components import bounded_cycles
    from agraph_spark.operators.graph_queries import all_paths, all_paths_multi

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"), ("x", "x")],
        "head_id string, tail_id string")
    nodes = spark.createDataFrame([(x,) for x in "abcdex"], "entity_id string")
    targets = spark.createDataFrame([("b",), ("c",)], "node string")
    ops = {
        "connected_components": lambda: connected_components(edges),
        "bfs_distances": lambda: bfs_distances(edges, "a"),
        "bounded_cycles": lambda: bounded_cycles(edges, max_len=4),
        "all_paths": lambda: all_paths(edges, "a", "c", max_depth=3),
        "all_paths_multi": lambda: all_paths_multi(edges, "a", targets, max_depth=3),
        "pagerank": lambda: pagerank(nodes, edges, iterations=3),
    }

    def rows(df):
        return sorted(tuple(tuple(v) if isinstance(v, list) else v for v in r)
                      for r in df.collect())

    want = {name: rows(op()) for name, op in ops.items()}
    sc = spark.sparkContext
    try:
        for name, op in ops.items():
            ckpt = tmp_path / name
            sc.setCheckpointDir(str(ckpt))
            # the small-graph driver path does not checkpoint at all, so
            # the reliable cut is exercised on the LOOP path (forced
            # distributed), which also makes this a cross-path check
            with forced_path("distributed"):
                assert rows(op()) == want[name], name
            # the reliable run actually wrote checkpoint files
            assert any(files for _, _, files in os.walk(ckpt)), name
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None


PR_EDGES = [("a", "b"), ("b", "c"), ("b", "a"), ("c", "a"), ("c", "a")]


def py_pagerank(nodes, edge_rows, iterations=10, integer=True):
    """Driver-side power iteration with the same formula: r' = 0.15 +
    0.85 * sum_in(r/outdeg), in integer ppb (floor division per edge,
    damping as *85 div 100) or in floats."""
    outd = {}
    for h, _ in edge_rows:
        outd[h] = outd.get(h, 0) + 1
    ranks = {n: 1_000_000_000 if integer else 1.0 for n in nodes}
    for _ in range(iterations):
        recv = {n: 0 for n in ranks}
        for h, t in edge_rows:
            recv[t] += ranks[h] // outd[h] if integer else ranks[h] / outd[h]
        ranks = {n: 150_000_000 + recv[n] * 85 // 100 if integer
                 else 0.15 + 0.85 * recv[n] for n in ranks}
    return ranks


def test_pagerank_matches_power_iteration(spark, forced_path):
    """PageRank == a driver-side integer power iteration with the same
    formula on a small multigraph (parallel edges carry mass twice), on
    both forced paths."""
    from agraph_spark.operators.analytics import pagerank

    names = ["a", "b", "c", "iso"]
    nodes = spark.createDataFrame([(n,) for n in names], "entity_id string")
    edges = spark.createDataFrame(PR_EDGES, "head_id string, tail_id string")
    want = py_pagerank(names, PR_EDGES)
    for path in ("driver", "distributed"):
        with forced_path(path):
            got = {r.entity_id: r.rank for r in pagerank(nodes, edges, iterations=10).collect()}
        assert got == want, path
    assert want["iso"] == 150_000_000  # no in-edges -> floor rank


def test_pagerank_fixed_point_tracks_float(spark, forced_path):
    """Fixed-point (integer ppb) ranks match a float power iteration to
    ~1e-6 and are identical across repartitionings (order-independent
    sums)."""
    from agraph_spark.operators.analytics import pagerank

    edges = spark.createDataFrame(PR_EDGES, "head_id string, tail_id string")
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "entity_id string")
    fl = py_pagerank(["a", "b", "c"], PR_EDGES, integer=False)
    fp = {r.entity_id: r.rank for r in pagerank(nodes, edges, iterations=10).collect()}
    for n in fl:
        assert abs(fl[n] - fp[n] / 1e9) < 1e-5, (n, fl[n], fp[n])
    with forced_path("distributed"):
        fp2 = {r.entity_id: r.rank for r in
               pagerank(nodes.repartition(7), edges.repartition(5),
                        iterations=10).collect()}
    assert fp == fp2


# ------------------------------------------------------------- A11 cycles


def py_cycles(edges, max_len):
    """Brute-force oracle: all directed simple cycles of length 2..max_len,
    canonicalized at their minimum node, as a set of (start, length)."""
    e = set(edges)
    adj = {}
    for a, b in e:
        adj.setdefault(a, set()).add(b)
    out = set()

    def extend(start, last, nodes):
        if start in adj.get(last, ()):
            out.add((start, len(nodes)))
        if len(nodes) < max_len:
            for nxt in adj.get(last, ()):
                if nxt > start and nxt not in nodes:
                    extend(start, nxt, nodes | {nxt})

    for a, b in e:
        if b > a:
            extend(a, b, {a, b})
    return out


def test_bounded_cycles_matches_bruteforce(spark, forced_path):
    """Lengths 2..5 on a seeded random digraph equal the Python oracle —
    the reference's find_cycles depth (graph_path_finder.py:224)."""
    from agraph_spark.operators.components import bounded_cycles

    _, edge_rows = random_graph(25, 80, seed=31)
    edf = spark.createDataFrame(edge_rows, "head_id string, tail_id string")
    want = py_cycles(edge_rows, 5)
    assert want, "fixture must actually contain cycles"
    assert any(l >= 4 for _, l in want), "fixture must contain 4/5-cycles"
    got = {(r.cycle_start, r.cycle_len) for r in bounded_cycles(edf).collect()}
    assert got == want
    # adaptive cutover (round 5) vs the forced distributed level loop
    with forced_path("distributed"):
        forced = {(r.cycle_start, r.cycle_len) for r in
                  bounded_cycles(edf).collect()}
    assert forced == want


def test_bounded_cycles_hub_cap(spark, forced_path, caplog, monkeypatch):
    """A hot pivot (hub with many in-paths x many out-edges) is capped:
    paths through it are bounded, the drop is logged, and cycles NOT
    through the hub are unaffected."""
    import logging

    from agraph_spark.operators import components
    from agraph_spark.operators.components import bounded_cycles

    edges = (
        [(f"x{i:02d}", "zhub") for i in range(40)]
        + [("zhub", f"y{i:02d}") for i in range(40)]
        + [(f"y{i:02d}", f"x{i:02d}") for i in range(40)]  # cycles through hub
        + [("a1", "a2"), ("a2", "a3"), ("a3", "a1")]       # planted, hub-free
    )
    edf = spark.createDataFrame(edges, "head_id string, tail_id string")
    want = py_cycles(edges, 5)
    # uncapped (cap high enough): exact
    got = {(r.cycle_start, r.cycle_len) for r in bounded_cycles(edf).collect()}
    assert got == want
    # tight cap: subset of truth, planted hub-free cycle survives, drop logged
    monkeypatch.setattr(components, "PATHS_PER_PIVOT", 5)
    with caplog.at_level(logging.WARNING,
                         logger="agraph_spark.operators.components"):
        capped = {(r.cycle_start, r.cycle_len)
                  for r in bounded_cycles(edf).collect()}
    assert capped <= want
    assert ("a1", 3) in capped
    assert any("dropping" in r.message for r in caplog.records)
    # capping must be deterministic AND identical on both execution paths
    with forced_path("distributed"):
        forced_capped = {(r.cycle_start, r.cycle_len) for r in
                         bounded_cycles(edf).collect()}
    assert forced_capped == capped


def test_cutover_null_and_type_edges(spark, forced_path):
    """Round-5 review fixes: (1) BFS must not traverse THROUGH a null id
    on either path (null can be reached, never expanded); (2) the CC
    cutover must preserve non-string id types like the loop does."""
    edf = spark.createDataFrame(
        [("x", None), (None, "y")], "head_id string, tail_id string")
    for path in ("default", "distributed"):
        with forced_path(path):
            got = {r.entity_id: r.dist for r in
                   bfs_distances(edf, "x", max_depth=4).collect()}
        assert got == {"x": 0, None: 1}, (path, got)

    ints = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    small = connected_components(ints, src="id_a", dst="id_b")
    assert dict(small.dtypes)["component"] == "bigint"
    got_s = {r.entity_id: r.component for r in small.collect()}
    with forced_path("distributed"):
        got_d = {r.entity_id: r.component for r in
                 connected_components(ints, src="id_a", dst="id_b").collect()}
    assert got_s == got_d == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_adaptive_cutovers_actually_engage(spark, monkeypatch, forced_path):
    """CLAUDE.md standing rule: pair every fallback with a test that the
    PRIMARY path engages. The parity tests stay green even if a cutover
    never fires (both sides would run the loop), so spy on the driver
    mirror of every adaptive.cutover site: each must run under the
    default budgets and none may run when the distributed path is
    forced."""
    from agraph_spark.operators import analytics as A
    from agraph_spark.operators import components as C
    from agraph_spark.operators import graph_queries as GQ
    from agraph_spark.operators import linking as L

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "head_id string, tail_id string")
    nodes = spark.createDataFrame(
        [(x, x, x, "t") for x in ("a", "b", "c", "d")],
        "entity_id string, name string, name_norm string, entity_type string")
    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], "id_a string, id_b string")
    calls: list = []

    def spy(module, name, tag):
        real = getattr(module, name)
        monkeypatch.setattr(module, name,
                            lambda *a, **k: calls.append(tag) or real(*a, **k))

    spy(C, "driver_union_find", "uf")  # connected_components
    spy(L, "driver_union_find", "canon")  # canonical_mapping
    spy(C, "_driver_bfs", "bfs")
    spy(C, "_driver_bounded_cycles", "cy")
    spy(GQ, "_driver_all_paths", "ap")
    spy(L, "_driver_lsh_pairs", "lsh")
    spy(A, "_driver_pagerank_fixed", "pr")
    targets = spark.createDataFrame([("d",)], "node string")

    def run_all():
        C.connected_components(edges).collect()
        C.bfs_distances(edges, "a").collect()
        A.k_hop_neighbors(edges, "a", k=2).collect()
        C.bounded_cycles(edges).collect()
        GQ.all_paths(edges, "a", "d").collect()
        GQ.all_paths_multi(edges, "a", targets).collect()
        L.canonical_mapping(pairs).collect()
        L.lsh_candidate_pairs(nodes).collect()
        A.pagerank(nodes, edges).collect()

    run_all()
    assert sorted(calls) == sorted(
        ["uf", "bfs", "bfs", "cy", "ap", "ap", "canon", "lsh", "pr"]), calls
    calls.clear()
    with forced_path("distributed"):
        run_all()
    assert calls == []


def test_bfs_null_reachable_at_multiple_depths(spark, forced_path):
    """ADVICE r6: a null dst reachable at several depths must be recorded
    ONCE (first depth) on BOTH paths — the plain left_anti never matched
    the null key, so the distributed loop used to emit one (null, d) row
    per depth while the driver mirror recorded it once."""
    edf = spark.createDataFrame(
        [("x", None), ("x", "y"), ("y", None), ("y", "z"), ("z", None)],
        "head_id string, tail_id string")
    want = {"x": 0, "y": 1, None: 1, "z": 2}
    for path in ("default", "distributed"):
        with forced_path(path):
            rows = bfs_distances(edf, "x", max_depth=5).collect()
        got = {r.entity_id: r.dist for r in rows}
        assert got == want, (path, got)
        assert len(rows) == len(want), (path, rows)  # no duplicate null rows


def test_pagerank_fixed_point_driver_cutover_equals_distributed(spark, forced_path):
    """r6c: the fixed-point driver mirror must equal the distributed loop
    on a fixture with parallel edges, dangling head/tail ids not in nodes,
    an isolated node, a null tail, and NON-STRING ids (schema preserved)."""
    from agraph_spark.operators.analytics import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 1), (3, 1), (3, 1), (9, 1), (2, 77), (1, None)],
        "head_id int, tail_id int")
    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], "entity_id int")
    fast = pagerank(nodes, edges, iterations=10)
    with forced_path("distributed"):
        slow = pagerank(nodes, edges, iterations=10)
        s = {r.entity_id: r.rank for r in slow.collect()}
    f = {r.entity_id: r.rank for r in fast.collect()}
    assert f == s and len(f) == 4
    assert f[4] == 150_000_000  # isolated node -> floor rank on both paths
    # int ids preserved by the mirror (nullability may differ: the mirror's
    # coalesce-with-literal is provably non-null)
    assert [(x.name, x.dataType) for x in fast.schema] == \
        [(x.name, x.dataType) for x in slow.schema]
    # zero-iteration edge: both paths return the seed for every node
    f0 = {r.entity_id: r.rank for r in
          pagerank(nodes, edges, iterations=0).collect()}
    with forced_path("distributed"):
        s0 = {r.entity_id: r.rank for r in
              pagerank(nodes, edges, iterations=0).collect()}
    assert f0 == s0 == {i: 1_000_000_000 for i in (1, 2, 3, 4)}


def test_k_hop_delegates_to_bfs_and_matches_reference_walk(spark, forced_path):
    """r6c: k_hop_neighbors == a hand-rolled hop-labelled walk (first
    depth wins, undirected, start excluded), on both execution paths."""
    from agraph_spark.operators.analytics import k_hop_neighbors

    rows = [("s", "a"), ("a", "b"), ("b", "c"), ("b", "a"), ("x", "y")]
    edges = spark.createDataFrame(rows, "head_id string, tail_id string")
    expect = {}
    frontier, seen = {"s"}, {"s"}
    nbrs: dict = {}
    for h, t in rows:
        nbrs.setdefault(h, set()).add(t)
        nbrs.setdefault(t, set()).add(h)
    for hop in (1, 2):
        nxt = {v for u in frontier for v in nbrs.get(u, ()) if v not in seen}
        expect.update({v: hop for v in nxt})
        seen |= nxt
        frontier = nxt
    got = {r.entity_id: r.hop for r in k_hop_neighbors(edges, "s", k=2).collect()}
    # c stays outside the k=2 bound; x/y are in another component
    assert got == expect == {"a": 1, "b": 2}
    # the distributed path gives the same hops
    with forced_path("distributed"):
        dist = {r.entity_id: r.hop for r in
                k_hop_neighbors(edges, "s", k=2).collect()}
    assert dist == got
