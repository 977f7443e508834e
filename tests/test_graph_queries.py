"""F1-F3 filters, D9 upsert, D10 merge, A10 paths, A14 chunk similarity,
A13/G8 reports, IVF ANN."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from agraph_spark.operators import components as C
from agraph_spark.operators import graph_queries as GQ
from agraph_spark.operators.graph_queries import (
    all_paths,
    chunk_similarity,
    graph_summary,
    merge_graphs,
    query_entities,
    query_relations,
    recommendations,
    remove_conversations,
    upsert_nodes,
)
from agraph_spark.operators.vectors import ivf_index, ivf_topk, topk_similar

NODES_SCHEMA = ("entity_id string, name string, name_norm string, entity_type string, "
                "confidence double, aliases array<string>, n_mentions long")


def _nodes(spark, rows):
    return spark.createDataFrame(rows, NODES_SCHEMA)


def test_query_filters(spark):
    nodes = _nodes(spark, [
        ("e1", "Acme Corp", "acme corp", "organization", 0.9, [], 1),
        ("e2", "Paris", "paris", "location", 0.4, [], 1),
        ("e3", "Acme Labs", "acme labs", "organization", 0.6, [], 1),
    ])
    got = {r.entity_id for r in query_entities(nodes, entity_type="organization",
                                               name_contains="acme", min_confidence=0.7).collect()}
    assert got == {"e1"}
    edges = spark.createDataFrame(
        [("x1", "e1", "e2", "belongs_to", 0.7), ("x2", "e3", "e2", "belongs_to", 0.7)],
        "edge_id string, head_id string, tail_id string, pred string, confidence double")
    assert query_relations(edges, head_id="e1").count() == 1
    assert query_relations(edges, pred="belongs_to").count() == 2


def test_upsert_merges_and_inserts(spark):
    existing = _nodes(spark, [("e1", "Acme", "acme", "organization", 0.6, ["acme inc"], 3)])
    batch = _nodes(spark, [
        ("e9", "ACME", "acme", "organization", 0.9, ["acme corp"], 2),
        ("e2", "Paris", "paris", "location", 0.8, [], 1),
    ])
    out = {r.name_norm: r for r in upsert_nodes(existing, batch).collect()}
    assert len(out) == 2
    acme = out["acme"]
    assert acme.entity_id == "e1"            # existing id wins
    assert acme.confidence == 0.9            # max confidence
    assert sorted(acme.aliases) == ["acme corp", "acme inc"]
    assert acme.n_mentions == 5
    assert out["paris"].entity_id == "e2"    # fresh insert


def test_merge_graphs_repoints_and_drops_dangling(spark):
    n1 = _nodes(spark, [("a1", "X", "x", "concept", 0.5, [], 1)])
    n2 = _nodes(spark, [("b1", "X", "x", "concept", 0.7, [], 1),
                        ("b2", "Y", "y", "concept", 0.5, [], 1)])
    e1 = spark.createDataFrame([("r1", "a1", "zz", "related_to", 0.5)],
        "edge_id string, head_id string, tail_id string, pred string, confidence double")
    e2 = spark.createDataFrame([("r2", "b1", "b2", "related_to", 0.5)], e1.schema)
    nodes, edges = merge_graphs([n1, n2], [e1, e2])
    assert nodes.count() == 2  # x-aligned
    rows = edges.collect()
    assert len(rows) == 1  # dangling zz edge dropped
    assert (rows[0].head_id, rows[0].tail_id) == ("a1", "b2")  # repointed to survivor a1


def test_merge_graphs_edge_dedup_is_partition_invariant(spark):
    """Edges that collapse onto one (head_id, tail_id, pred) keep the row
    of the earliest graph, ties on the smaller edge_id, however the inputs
    are partitioned (an arbitrary-row dropDuplicates kept a mix)."""
    names = [f"n{i:02d}" for i in range(40)]
    n1 = _nodes(spark, [(f"a{i:02d}", n, n, "concept", 0.5, [], 1) for i, n in enumerate(names)])
    n2 = _nodes(spark, [(f"b{i:02d}", n, n, "concept", 0.5, [], 1) for i, n in enumerate(names)])
    schema = "edge_id string, head_id string, tail_id string, pred string, confidence double"
    # graph 1's edge ids sort after graph 2's, so graph order must decide;
    # its extra z00 twin "zz00" must lose the tie on edge_id
    e1 = spark.createDataFrame(
        [(f"z{i:02d}", f"a{i:02d}", f"a{i + 1:02d}", "related_to", 0.1) for i in range(39)]
        + [("zz00", "a00", "a01", "related_to", 0.3)], schema)
    e2 = spark.createDataFrame(
        [(f"y{i:02d}", f"b{i:02d}", f"b{i + 1:02d}", "related_to", 0.9) for i in range(39)],
        schema)
    want = {(f"z{i:02d}", f"a{i:02d}", f"a{i + 1:02d}", 0.1) for i in range(39)}
    for n_parts in (1, 2, 3, 5, 8, 13):
        _, edges = merge_graphs([n1, n2], [e1.repartition(n_parts), e2.repartition(n_parts)])
        got = {(r.edge_id, r.head_id, r.tail_id, r.confidence) for r in edges.collect()}
        assert got == want, n_parts


def test_all_paths_bounded(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "a")],
        "head_id string, tail_id string")
    paths = {tuple(r.path) for r in all_paths(edges, "a", "c", max_depth=3).collect()}
    assert paths == {("a", "c"), ("a", "b", "c")}


def test_all_paths_hub_skew_completes_bounded(spark, forced_path, monkeypatch):
    """VERDICT r3 #2: a hub with 10k in/out edges one hop from the start
    must not explode the frontier — the per-pivot cap bounds each
    extension to cap×D, so the run completes (and still finds the paths
    that route through the hub under the cap)."""
    hub_in = [("a", "hub")] + [(f"s{i}", "hub") for i in range(10_000)]
    hub_out = [("hub", f"t{i}") for i in range(10_000)] + [("hub", "z")]
    edges = spark.createDataFrame(
        hub_in + hub_out, "head_id string, tail_id string"
    )
    monkeypatch.setattr(C, "PATHS_PER_PIVOT", 50)
    got = {tuple(r.path) for r in all_paths(edges, "a", "z", max_depth=3).collect()}
    assert got == {("a", "hub", "z")}

    # capping drops paths only ABOVE the cap: with 3 distinct start->hub
    # paths and cap 2, exactly 2 survive
    tri = spark.createDataFrame(
        [("a", "m1"), ("a", "m2"), ("a", "m3"),
         ("m1", "hub"), ("m2", "hub"), ("m3", "hub"), ("hub", "z")],
        "head_id string, tail_id string")
    monkeypatch.setattr(C, "PATHS_PER_PIVOT", 2)
    got = {tuple(r.path) for r in all_paths(tri, "a", "z", max_depth=3).collect()}
    assert len(got) == 2 and all(p[0] == "a" and p[-1] == "z" for p in got)
    # the adaptive driver path and the forced distributed loop must emit
    # identical rows, INCLUDING which 2 paths survive the cap
    with forced_path("distributed"):
        forced = {tuple(r.path) for r in all_paths(tri, "a", "z", max_depth=3).collect()}
    assert forced == got


def test_all_paths_keep_long_ids(spark, forced_path):
    """Paths keep the edge id type on both execution paths: a hard-coded
    string schema raised ArrowTypeError on long ids on both."""
    from agraph_spark.operators.graph_queries import all_paths_multi

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "head_id long, tail_id long")
    targets = spark.createDataFrame([(4,)], "node long")
    for path in ("default", "distributed"):
        with forced_path(path):
            ap = all_paths(edges, 1, 4, max_depth=3)
            multi = all_paths_multi(edges, 1, targets, max_depth=3)
            assert ap.dtypes == [("path", "array<bigint>"), ("depth", "int")]
            assert {(tuple(r.path), r.depth) for r in ap.collect()} == {
                ((1, 4), 1), ((1, 2, 3, 4), 3)}
            assert multi.dtypes[0] == ("target", "bigint")
            assert {(r.target, tuple(r.path)) for r in multi.collect()} == {
                (4, (1, 4)), (4, (1, 2, 3, 4))}


def test_chunk_similarity(spark):
    links = spark.createDataFrame(
        [("c1", ["e1", "e2"], ["r1"]), ("c2", ["e2", "e3"], ["r1", "r2"]), ("c3", ["e9"], [])],
        "chunk_id string, entity_ids array<string>, relation_ids array<string>")
    out = {(r.chunk_a, r.chunk_b): r.similarity for r in chunk_similarity(links).collect()}
    # e-jaccard(c1,c2)=1/3, r-jaccard=1/2 -> 0.6/3 + 0.2 = 0.4
    assert list(out) == [("c1", "c2")]
    assert abs(out[("c1", "c2")] - 0.4) < 1e-6


def test_remove_conversations(spark):
    t = spark.createDataFrame([("c1", "x"), ("c2", "y")], "conv_id string, v string")
    assert remove_conversations(t, ["c1"]).collect()[0].conv_id == "c2"


def test_summary_and_recommendations(spark):
    nodes = _nodes(spark, [("e1", "A", "a", "concept", 0.9, [], 1),
                           ("e2", "B", "b", "concept", 0.9, [], 1)])
    edges = spark.createDataFrame([("r1", "e1", "e2", "related_to", 0.7)],
        "edge_id string, head_id string, tail_id string, pred string, confidence double")
    s = graph_summary(nodes, edges)
    assert "entities: 2" in s and "related_to=1" in s
    recs = recommendations(nodes, edges)
    assert any("healthy" in r or "sparse" in r for r in recs)


def test_ivf_matches_bruteforce_topk(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((300, 8)).astype("float32")
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(vecs)],
                               "vec_id long, embedding array<float>")
    assigned, centroids = ivf_index(df, n_centroids=6)
    q = vecs[5].tolist()
    ivf = [r.vec_id for r in ivf_topk(assigned, centroids, q, k=3, n_probe=6).collect()]
    qdf = spark.createDataFrame([(q,)], "query_vec array<float>")
    brute = [r.vec_id for r in topk_similar(df, qdf, k=3).collect()]
    # with n_probe = all centroids IVF is exact
    assert ivf == brute
    # pruned probe still finds the query vector itself
    ivf1 = [r.vec_id for r in ivf_topk(assigned, centroids, q, k=1, n_probe=1).collect()]
    assert ivf1 == [5]


def test_ivf_assign_matches_numpy_argmin(spark):
    """ivf_assign (the deterministic column-expression assignment, round
    5) must agree with a numpy squared-L2 argmin on every vector, and
    compose with ivf_topk identically to a KMeans-free pipeline."""
    from agraph_spark.operators.vectors import ivf_assign

    rng = np.random.default_rng(23)
    vecs = rng.standard_normal((200, 8)).astype("float32")
    cents = vecs[:5].astype("float64")
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(vecs)],
                               "vec_id long, embedding array<float>")
    got = {r.vec_id: r.centroid
           for r in ivf_assign(df, cents.tolist()).collect()}
    v64 = vecs.astype("float64")
    want = ((v64[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    assert got == {i: int(want[i]) for i in range(len(vecs))}
    # exact-duplicate centroid: tie resolves to the LOWEST index
    dup = np.vstack([cents, cents[2:3]])
    got_dup = {r.vec_id: r.centroid for r in ivf_assign(df, dup.tolist()).collect()}
    assert all(c <= 4 for c in got_dup.values())


def test_chunk_similarity_plan_is_equi_join(spark):
    """A14 must block on shared entities via an inverted-index equi-join:
    no BroadcastNestedLoopJoin / CartesianProduct anywhere in the plan
    (the round-1 inequality-only join was O(n^2) at any real chunk count)."""
    links = spark.createDataFrame(
        [("c1", ["e1", "e2"], ["r1"]), ("c2", ["e2", "e3"], ["r1", "r2"])],
        "chunk_id string, entity_ids array<string>, relation_ids array<string>")
    plan = chunk_similarity(links)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_chunk_similarity_hot_entity_cap(spark, monkeypatch):
    """An entity linked to more chunks than the cap is dropped from
    candidate generation (skew guard); rare-entity pairs survive."""
    rows = [(f"h{i:03d}", ["boiler", f"rare{i % 2}"], []) for i in range(20)]
    links = spark.createDataFrame(
        rows, "chunk_id string, entity_ids array<string>, relation_ids array<string>")
    monkeypatch.setattr(GQ, "ENTITY_CHUNKS", 10)
    capped = chunk_similarity(links).collect()
    # 'boiler' (20 chunks > cap) is dropped; rare0/rare1 (10 chunks each) survive -> C(10,2)*2 pairs
    assert len(capped) == 2 * 45
    monkeypatch.setattr(GQ, "ENTITY_CHUNKS", 10**9)
    uncapped = chunk_similarity(links).collect()
    assert len(uncapped) == 190  # C(20,2): every pair shares 'boiler'


def test_hierarchical_inference(spark):
    from agraph_spark.operators.inference import hierarchical_inference

    nodes = spark.createDataFrame(
        [("o1", "Acme", "organization"), ("p1", "Acme Smith", "person"),
         ("p2", "Jones", "person"), ("d1", "acme", "document")],
        "entity_id string, name string, entity_type string")
    got = {(r.head_id, r.tail_id, r.pred) for r in hierarchical_inference(nodes).collect()}
    # organization->person containment only; document->concept has no concept rows
    assert got == {("o1", "p1", "contains")}


def test_low_confidence_and_empty_names(spark):
    from agraph_spark.operators.integrity import empty_names, low_confidence

    nodes = _nodes(spark, [("e1", "A", "a", "concept", 0.9, [], 1),
                           ("e2", "  ", "", "concept", 0.3, [], 1)])
    edges = spark.createDataFrame([("r1", "e1", "e2", "related_to", 0.4)],
        "edge_id string, head_id string, tail_id string, pred string, confidence double")
    lc = {(r.item_id, r.kind) for r in low_confidence(nodes, edges, threshold=0.5).collect()}
    assert lc == {("e2", "entity"), ("r1", "relation")}
    assert [r.entity_id for r in empty_names(nodes).collect()] == ["e2"]


def test_shortest_path(spark):
    from agraph_spark.operators.graph_queries import shortest_path

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "head_id string, tail_id string")
    got = shortest_path(edges, "a", "d", max_depth=4).collect()
    assert len(got) == 1
    assert list(got[0].path) == ["a", "c", "d"] and got[0].depth == 2
    # unreachable -> empty
    assert shortest_path(edges, "d", "a", max_depth=3).count() == 0


def test_all_paths_stop_at_first_hit(spark, forced_path):
    """VERDICT r4 #4: with stop_at_first_hit the expansion ends at the
    first depth where the target appears — a target reachable at depth 1
    AND depth 3 yields only the depth-1 paths (behavioral proof the later
    levels never ran), while the default keeps expanding and finds both."""
    edges = spark.createDataFrame(
        [("a", "z"), ("a", "m"), ("m", "n"), ("n", "z"), ("z", "q")],
        "head_id string, tail_id string")
    eager = {(tuple(r.path), r.depth) for r in
             all_paths(edges, "a", "z", max_depth=4).collect()}
    assert eager == {(("a", "z"), 1), (("a", "m", "n", "z"), 3)}
    lazy = {(tuple(r.path), r.depth) for r in
            all_paths(edges, "a", "z", max_depth=4,
                      stop_at_first_hit=True).collect()}
    assert lazy == {(("a", "z"), 1)}
    # dead-end early break: frontier empties before max_depth
    assert all_paths(edges, "n", "a", max_depth=4,
                     stop_at_first_hit=True).count() == 0
    # both execution paths agree on the eager and early-exit variants
    for kw in ({}, {"stop_at_first_hit": True}):
        drv = {(tuple(r.path), r.depth) for r in
               all_paths(edges, "a", "z", max_depth=4, **kw).collect()}
        with forced_path("distributed"):
            dist = {(tuple(r.path), r.depth) for r in
                    all_paths(edges, "a", "z", max_depth=4, **kw).collect()}
        assert drv == dist


def test_graph_metrics_reference_semantics(spark):
    """Round 5: graph_metrics mirrors calculate_graph_metrics
    (utils.py:196-268) — a self-loop adds ONE to total degree (the
    reference's get_entity_relations appends once for direction='both'),
    density is 2E/(N(N-1)), components span entities only (a dangling
    relation connects nothing), and isolated nodes are singleton
    components with degree 0."""
    from agraph_spark.operators.analytics import graph_metrics

    nodes = spark.createDataFrame(
        [("a", "A", "person", 0.9), ("b", "B", "person", 0.9),
         ("c", "C", "place", 0.8), ("iso", "I", "place", 0.5)],
        "entity_id string, name string, entity_type string, confidence double")
    edges = spark.createDataFrame(
        [("a", "b", "knows", 0.9),      # normal edge
         ("a", "a", "similar_to", 0.5), # self-loop: degree(a) += 1
         ("b", "ghost", "knows", 0.4),  # dangling: degree(b) += 1, connects nothing
         ("c", "a", "near", 0.6)],
        "head_id string, tail_id string, pred string, confidence double")
    m = {r.metric: r.value for r in graph_metrics(nodes, edges).collect()}

    assert m["node_count"] == 4 and m["edge_count"] == 4
    # degrees: a = knows(a,b) + self-loop(1) + near(c,a) = 3; b = 2; c = 1; iso = 0
    assert m["max_degree"] == 3.0 and m["min_degree"] == 0.0
    assert m["avg_degree"] == 1.5  # (3+2+1+0)/4
    assert m["central_degree:a"] == 3.0 and m["central_degree:iso"] == 0.0
    # density = 2*4 / (4*3)
    assert m["density"] == round(8 / 12, 4)
    # components over {a,b,c} via (a-b),(c-a); ghost connects nothing; iso alone
    assert m["connected_components"] == 2.0
    assert m["largest_component_size"] == 3.0 and m["is_connected"] == 0.0
    assert m["entity_type:person"] == 2.0 and m["entity_type:place"] == 2.0
    assert m["relation_type:knows"] == 2.0 and m["relation_type:near"] == 1.0


def test_consistency_issues_reference_semantics(spark):
    """Round 5: consistency_issues mirrors validate_graph_consistency
    (utils.py:400-466) — duplicates flag count-1 per signature, dangling
    endpoints still participate in duplicate signatures, self-loops key
    on the entity."""
    from agraph_spark.operators.integrity import consistency_issues

    nodes = spark.createDataFrame(
        [("a", "A", "t", 0.9), ("b", "B", "t", 0.9)],
        "entity_id string, name string, entity_type string, confidence double")
    edges = spark.createDataFrame(
        [("a", "b", "knows", 0.9), ("a", "b", "knows", 0.8),  # dup signature
         ("a", "ghost", "near", 0.5), ("a", "ghost", "near", 0.4),  # dangling AND dup
         ("b", "b", "similar_to", 0.6)],
        "head_id string, tail_id string, pred string, confidence double")
    got = {(r.issue_type, r.item): r.n for r in consistency_issues(nodes, edges).collect()}
    assert got == {
        ("duplicate_relation", "a|b|knows"): 1,
        ("duplicate_relation", "a|ghost|near"): 1,   # dangling still counts
        ("missing_tail_entity", "a|ghost|near"): 2,  # both occurrences missing
        ("self_loop", "b"): 1,
    }


def test_paths_with_relation_type(spark):
    """Round 5: typed path walk (find_paths_with_relation_type,
    graph_path_finder.py:157-222) traverses ONLY the given pred — a
    shortcut via another relation type must not appear."""
    from agraph_spark.operators.graph_queries import paths_with_relation_type

    edges = spark.createDataFrame(
        [("a", "b", "contains"), ("b", "c", "contains"),
         ("a", "c", "related_to")],  # shortcut via the wrong type
        "head_id string, tail_id string, pred string")
    got = {(tuple(r.path), r.depth) for r in
           paths_with_relation_type(edges, "a", "c", "contains", max_depth=3).collect()}
    assert got == {(("a", "b", "c"), 2)}
    assert paths_with_relation_type(edges, "a", "c", "nope", max_depth=3).count() == 0
