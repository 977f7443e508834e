"""Forced-path equivalence of every adaptive cutover site
(agraph_spark/operators/adaptive.py): on small random graphs with
duplicate edges, self-loops, null heads and tails, null entity types,
empty input, and string and long ids, the driver mirror and the distributed loop must
return the same rows with the same column types. Also the lifetime of
the collect-once memo: an entry serves exactly while its cached blocks
are persisted."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from agraph_spark import caching
from agraph_spark.operators import adaptive
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


def _operators(spark, id_t, edges, names, persist=False):
    pool = POOLS[id_t]
    edf = spark.createDataFrame(edges, f"head_id {id_t}, tail_id {id_t}")
    nodes = spark.createDataFrame(
        [(i, n, t) for i, (n, t) in zip(pool, names)],
        f"entity_id {id_t}, name_norm string, entity_type string")
    targets = spark.createDataFrame([(pool[2],), (pool[3],), (None,)], f"node {id_t}")
    if persist:
        edf, nodes, targets = (caching.track(df) for df in (edf, nodes, targets))
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


# ------------------------------------------------------- collect-once memo

def _key(df):
    leaves = adaptive._cached_leaves(df)
    return None if leaves is None else adaptive._memo_key(df, leaves, False)


def _entries(df):
    """Memo entries whose probe reads ``df``'s cached blocks."""
    key = _key(df)
    return [] if key is None else [k for k in adaptive._MEMO if set(key[2]) <= set(k[2])]


def _hit(df):
    """Whether the memo holds ``df``'s rows."""
    key = _key(df)
    return any(seen.sameSemantics(df) for seen, _ in adaptive._MEMO.get(key, ()))


def _bfs(edges):
    return sorted(tuple(r) for r in C.bfs_distances(edges, "a", max_depth=3).collect())


def _edge_store(spark, path, pairs):
    spark.createDataFrame(pairs, "head_id string, tail_id string").write.mode(
        "overwrite").parquet(path)
    return spark.read.parquet(path).persist()


MISS_SITES = ("bounded_cycles", "pagerank", "lsh_candidate_pairs")


@pytest.mark.parametrize("graph", [
    ("bigint", [(1, 2), (2, 2), (2, 3), (3, 1), (3, 1), (None, 4), (4, None), (3, 4)],
     [("acme corp", "org"), ("acme corp.", "org"), (None, "org"),
      ("globex", "loc"), ("globex inc", "loc")]),
    DIAMOND,
], ids=["bigint", "diamond"])
def test_memoized_driver_call_equals_forced_distributed(spark, forced_path, graph):
    """On persisted inputs every site's second forced-driver call, which
    the memoizing sites serve from the memo, gives the rows of the forced
    distributed loop, and a memo hit still declines under a budget the
    rows exceed."""
    ops = _operators(spark, *graph, persist=True)
    probes = []
    real = adaptive._collect
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(adaptive, "_collect", lambda df, budget, arrow=False: probes.append(
                _hit(df)) or real(df, budget, arrow))
            for name, op in ops.items():
                with forced_path("driver"):
                    first = _result(op())
                    del probes[:]
                    second = _result(op())
                    # CC, BFS, the path sites and canonical_mapping probe
                    # cached frames; cycles and pagerank probe a lineage
                    # cut, and LSH each call's newly fitted model
                    assert all(probes) == (name not in MISS_SITES), name
                with forced_path("distributed"):
                    dist = _result(op())
                assert first == second == dist, (name, graph)
    finally:
        caching.release_caches(spark)


def test_unpersisted_source_misses_memo(spark, tmp_path):
    edges = _edge_store(spark, str(tmp_path / "e"), [("a", "b"), ("b", "c")])
    want = [("a", 0), ("b", 1), ("c", 2)]
    assert _bfs(edges) == want and _entries(edges)
    assert _bfs(edges) == want
    key = _key(edges)
    edges.unpersist()
    assert _key(edges) is None  # the probe now reads parquet
    assert _bfs(edges) == want
    assert not [k for k in adaptive._MEMO if set(key[2]) & set(k[2])]
    edges.persist()  # the same frame, persisted again: a new cache, no entry
    assert _key(edges)[2] != key[2] and not _hit(edges)
    assert _bfs(edges) == want and _entries(edges)
    edges.unpersist()


def test_memoized_adjacency_shares_one_str_per_id(spark, forced_path, tmp_path):
    """Memoized tuple rows hold one interned ``str`` per distinct value:
    equal ids in the k-hop adjacency are the same object, and the k-hop
    rows equal those of the distributed loop."""
    pairs = [(f"node-{i % 7}", f"node-{i * 3 % 11}") for i in range(40)]
    edges = _edge_store(spark, str(tmp_path / "e"), pairs)
    try:
        with forced_path("driver"):
            got = _result(A.k_hop_neighbors(edges, "node-0", k=2))
        (key,) = _entries(edges)
        ((_, rows),) = adaptive._MEMO[key]
        first = {}
        for value in (v for row in rows for v in row):
            assert first.setdefault(value, value) is value
        assert len(first) < 2 * len(rows)
        with forced_path("distributed"):
            assert _result(A.k_hop_neighbors(edges, "node-0", k=2)) == got
    finally:
        edges.unpersist()


def test_overwritten_and_repersisted_source_gives_new_rows(spark, tmp_path):
    path = str(tmp_path / "e")
    edges = _edge_store(spark, path, [("a", "b"), ("b", "c")])
    assert _bfs(edges) == [("a", 0), ("b", 1), ("c", 2)]
    edges.unpersist()
    edges = _edge_store(spark, path, [("a", "d")])
    assert _bfs(edges) == [("a", 0), ("d", 1)]
    edges.unpersist()


def test_released_tracked_source_leaves_no_entry(spark):
    edges = caching.track(spark.createDataFrame([("a", "b")], "head_id string, tail_id string"))
    assert _bfs(edges) == [("a", 0), ("b", 1)]
    (key,) = _entries(edges)
    caching.release_caches(spark)
    other = spark.createDataFrame([("x", "y")], "head_id string, tail_id string")
    C.bfs_distances(other, "x")  # any cutover call drops dead entries
    assert key not in adaptive._MEMO


def test_uncached_mixed_or_nondeterministic_probe_is_not_stored(spark):
    cached = caching.track(spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "head_id bigint, tail_id bigint"))
    cached.count()
    local = spark.createDataFrame([(1, 2)], "head_id bigint, tail_id bigint")
    probes = {
        "uncached": local,
        "mixed": cached.unionByName(local),
        "nondeterministic": cached.where(F.rand(7) < 2.0),
    }
    try:
        for name, probe in probes.items():
            before = dict(adaptive._MEMO)
            got = adaptive.cutover(probe, 100, lambda rows: rows, "head_id bigint, tail_id bigint")
            assert got is not None and got.count() == probe.count(), name
            assert _key(probe) is None and adaptive._MEMO == before, name
        stored = cached.select("head_id", "tail_id")
        adaptive.cutover(stored, 100, lambda rows: rows, "head_id bigint, tail_id bigint")
        assert _entries(stored)
        # a probe over the budget is incomplete: nothing stored, and declined
        caching.release_caches(spark)
        cached = caching.track(spark.createDataFrame(
            [(i, i + 1) for i in range(20)], "head_id bigint, tail_id bigint"))
        assert adaptive.cutover(cached, 5, lambda rows: rows, "a bigint, b bigint") is None
        assert not _entries(cached)
    finally:
        caching.release_caches(spark)


RESTART = """
import json, sys
sys.path.insert(0, sys.argv[1])
from agraph_spark.operators import adaptive
from agraph_spark.operators.components import bfs_distances
from agraph_spark.session import get_spark

def run(pairs):
    spark = get_spark(master="local[1]", shuffle_partitions=1)
    spark.createDataFrame(pairs, "head_id string, tail_id string").write.mode(
        "overwrite").parquet(sys.argv[2])
    edges = spark.read.parquet(sys.argv[2]).persist()
    return spark, sorted(tuple(r) for r in bfs_distances(edges, "a", max_depth=3).collect())

spark, first = run([("a", "b")])
old_keys = list(adaptive._MEMO)
spark.stop()
spark, second = run([("a", "c"), ("c", "d")])
print(json.dumps({"first": first, "second": second,
                  "old_apps": sorted({k[0] for k in old_keys}),
                  "apps": sorted({k[0] for k in adaptive._MEMO}),
                  "app": spark.sparkContext.applicationId}))
spark.stop()
"""


def test_restarted_session_has_no_stale_hit(tmp_path):
    """A new context numbers its RDDs from 0 again, so the same steps give
    the same cached RDD id and the same semantic hash over the same path;
    only the application id tells the entries apart."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", RESTART, repo, str(tmp_path / "e")],
        capture_output=True, text=True, env=env, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["first"] == [["a", 0], ["b", 1]]
    assert out["second"] == [["a", 0], ["c", 1], ["d", 2]]
    assert out["apps"] == [out["app"]] and out["old_apps"] != out["apps"]
