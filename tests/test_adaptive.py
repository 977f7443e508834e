"""Forced-path equivalence of every adaptive cutover site
(agraph_spark/operators/adaptive.py): on small random graphs with
duplicate edges, self-loops, null heads and tails, null entity types,
empty input, and string and long ids, the driver mirror and the distributed loop must
return the same rows with the same column types."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from agraph_spark.operators import analytics as A
from agraph_spark.operators import components as C
from agraph_spark.operators import graph_queries as GQ
from agraph_spark.operators import linking as L

POOLS = {"string": ["a", "b", "c", "d", "e"], "bigint": [1, 2, 3, 4, 5]}
NAMES = ["acme corp", "acme corp.", "acme", "globex inc", "globex", None]


@st.composite
def graphs(draw):
    id_t = draw(st.sampled_from(sorted(POOLS)))
    pool = POOLS[id_t]
    endpoint = st.sampled_from(pool + [None])
    edges = draw(st.lists(st.tuples(endpoint, endpoint), max_size=14))
    names = draw(st.lists(st.tuples(st.sampled_from(NAMES), st.sampled_from(["org", "loc", None])),
                          min_size=len(pool), max_size=len(pool)))
    return id_t, edges, names


def _operators(spark, id_t, edges, names):
    pool = POOLS[id_t]
    edf = spark.createDataFrame(edges, f"head_id {id_t}, tail_id {id_t}")
    nodes = spark.createDataFrame(
        [(i, n, t) for i, (n, t) in zip(pool, names)],
        f"entity_id {id_t}, name_norm string, entity_type string")
    targets = spark.createDataFrame([(pool[2],), (pool[3],), (None,)], f"node {id_t}")
    pairs = edf.select(edf.head_id.alias("id_a"), edf.tail_id.alias("id_b"))
    start, end = pool[0], pool[3]
    return {
        "connected_components": lambda: C.connected_components(edf, nodes),
        "bfs_distances": lambda: C.bfs_distances(edf, start, max_depth=3),
        "bounded_cycles": lambda: C.bounded_cycles(edf, max_len=4),
        "all_paths": lambda: GQ.all_paths(edf, start, end, max_depth=3),
        "all_paths_multi": lambda: GQ.all_paths_multi(edf, start, targets, max_depth=3),
        "canonical_mapping": lambda: L.canonical_mapping(pairs),
        "lsh_candidate_pairs": lambda: L.lsh_candidate_pairs(nodes),
        "pagerank": lambda: A.pagerank(nodes, edf, iterations=3),
    }


def _result(df):
    rows = Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect())
    return [(f.name, f.dataType) for f in df.schema], rows


@settings(max_examples=3, deadline=None, derandomize=True)
@given(graphs())
@example(("string", [], [("acme", "org")] * 5))
@example(("bigint", [(1, 2), (2, 2), (2, 3), (3, 1), (3, 1), (None, 4), (4, None), (3, 4)],
          [("acme corp", "org"), ("acme corp.", "org"), (None, "org"),
           ("globex", "loc"), ("globex inc", "loc")]))
@example(("string", [("a", "b")], [("acme corp", None), ("acme corp.", None), ("acme", None),
                                   ("globex inc", "org"), ("globex", "org")]))
def test_forced_driver_equals_forced_distributed(spark, forced_path, graph):
    ops = _operators(spark, *graph)
    for name, op in ops.items():
        with forced_path("driver"):
            drv = _result(op())
        with forced_path("distributed"):
            dist = _result(op())
        assert drv == dist, (name, graph)


CAPPED = ("bounded_cycles", "all_paths", "all_paths_multi")
# two paths into e and into d, so a one-path cap drops paths in all three
DIAMOND = ("string", [("a", "b"), ("a", "c"), ("b", "e"), ("c", "e"), ("b", "d"),
                      ("c", "d"), ("e", "d"), ("d", "a")], [("acme", "org")] * 5)


@settings(max_examples=3, deadline=None, derandomize=True)
@given(graphs())
@example(DIAMOND)
def test_forced_paths_equal_with_cap_engaged(spark, forced_path, graph):
    """With one path kept per pivot the cycle and path caps drop rows on
    any graph with two paths into one node; the driver mirrors must still
    keep exactly the rows their loops keep."""
    ops = _operators(spark, *graph)
    dropped = set()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(C, "PATHS_PER_PIVOT", 1)
        mp.setattr(C, "_log_pivot_drops", lambda op, n_drop: dropped.add(op))
        for name in CAPPED:
            with forced_path("driver"):
                drv = _result(ops[name]())
            with forced_path("distributed"):
                dist = _result(ops[name]())
            assert drv == dist, (name, graph)
    if graph == DIAMOND:
        assert dropped == set(CAPPED)
