"""Plan-shape regression suite (round 6): pin the load-bearing physical-plan
facts the optimization round established, so refactors can't silently
regress them between rounds. These assert plan STRUCTURE, not timings —
each fact corresponds to a measured win documented in OPTIMIZATION_r06.md.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def entrymod():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_for_plans", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_no_cartesian_product_in_bench_queries(spark, entrymod):
    """No bench-suite query may plan a CartesianProduct (the broadcast
    1-row query vectors appear as BroadcastNestedLoopJoin, which is the
    intended shape for a 1-row side)."""
    qs = entrymod.queries()
    for name in ("g_degree", "g_components", "g_bfs", "dd_ngram_jaccard",
                 "dd_minhash", "v_cosine", "ev_sessionize", "tpch_q1"):
        assert "CartesianProduct" not in plan_of(qs[name](spark, SF)), name


def test_tpch_q1_pushdown_and_pruning(spark, entrymod):
    """Predicate pushdown and column pruning must reach the parquet scan
    (guide §6)."""
    p = plan_of(entrymod.queries()["tpch_q1"](spark, SF))
    assert "l_shipdate" in p.split("PushedFilters:")[1].splitlines()[0]
    read = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read and "l_orderkey" not in read


def test_g_degree_bucketed_out_degree_is_exchange_free(spark, entrymod):
    """The out-degree aggregation runs on the bucketed edge store WITHOUT
    an exchange between partial and final agg (the store's whole point);
    the scan says Bucketed: true."""
    p = plan_of(entrymod.queries()["g_degree"](spark, SF))
    assert "Bucketed: true" in p
    # head_id-keyed agg: no Exchange between the two HashAggregates over
    # the bucketed scan. The tail_id agg pays its one necessary exchange,
    # so the plan as a whole has EXACTLY one non-broadcast Exchange.
    tree = p.split("\n\n")[0]
    n_plain_exchange = tree.count("+- Exchange")
    assert n_plain_exchange == 1, tree


def test_graph_mirrors_return_arrow_local_tables(spark, entrymod):
    """The small-graph driver mirrors must return Arrow-backed local
    tables (LocalTableScan), not the pickled-list python-conversion RDD
    (Scan ExistingRDD / applySchemaToPythonRDD) whose python tasks are
    exposed to worker stalls (OPTIMIZATION_r06.md §2)."""
    qs = entrymod.queries()
    p_bfs = plan_of(qs["g_bfs"](spark, SF))
    assert "LocalTableScan" in p_bfs and "applySchemaToPythonRDD" not in p_bfs
    p_cc = plan_of(qs["g_components"](spark, SF))
    assert "LocalTableScan" in p_cc and "applySchemaToPythonRDD" not in p_cc


def test_lsh_join_input_is_slim_and_cached(spark, forced_path):
    """The distributed LSH candidate join must consume a PERSISTED feature
    table projected to exactly the join's columns — padded/grams must not
    flow into the self-join (they doubled the pair-distinct exchange)."""
    from agraph_spark.caching import release_caches
    from agraph_spark.operators.linking import lsh_candidate_pairs

    nodes = spark.createDataFrame(
        [(f"e{i}", f"name {i}", f"name {i}", "t", 0.9) for i in range(30)],
        "entity_id string, name string, name_norm string, entity_type string,"
        " confidence double")
    with forced_path("distributed"):
        p = plan_of(lsh_candidate_pairs(nodes))
    release_caches(spark)
    assert "InMemoryRelation" in p  # cached: both sides scan one build
    tree = p.split("\n\n")[0]
    assert "padded" not in tree and "grams" not in tree.split("InMemoryRelation")[0]


def test_broadcast_on_small_side_of_alias_join(spark):
    """alias_link's dictionary side must stay broadcast."""
    from agraph_spark.operators.linking import alias_link

    nodes = spark.createDataFrame(
        [("e1", "Acme", "acme", "organization", 0.9)],
        "entity_id string, name string, name_norm string, entity_type string,"
        " confidence double")
    alias = spark.createDataFrame(
        [("acme", "acme corp", "organization")],
        "alias string, canonical_name string, entity_type string")
    assert "BroadcastHashJoin" in plan_of(alias_link(nodes, alias))


def test_plan_shape_suite_detects_regressions(spark, entrymod):
    """The suite must actually FAIL on an injected regression: a
    plain-list createDataFrame result (the python-conversion RDD shape)
    must be distinguishable from the Arrow shape the mirrors assert."""
    plain = spark.createDataFrame([("x", 1)], "entity_id string, dist int")
    p = plan_of(plain)
    assert "LocalTableScan" not in p  # the injected bad shape
    import pandas as pd

    arrow = spark.createDataFrame(pd.DataFrame([("x", 1)],
                                               columns=["entity_id", "dist"]))
    assert "LocalTableScan" in plan_of(arrow)


def test_empty_mirror_results_stay_on_local_table_scan(spark):
    """session.local_df must keep EMPTY driver-mirror results on the
    LocalTableScan path: PySpark silently routes an empty pandas input to
    the pickled-RDD fallback (Scan ExistingRDD), whose python conversion
    tasks re-expose the worker-stall class — measured 3.8 s PER downstream
    action on q_d7_chain's zero-pair LSH leg (OPTIMIZATION_r06.md, round
    6b)."""
    from agraph_spark.session import local_df

    empty = local_df(spark, [], "id_a string, lsh_distance double")
    p = plan_of(empty)
    assert "LocalTableScan" in p and "ExistingRDD" not in p
    assert empty.count() == 0
    # array-typed empties (the path-query mirrors) must convert too
    empty_paths = local_df(spark, [], "path array<string>, depth int")
    assert "LocalTableScan" in plan_of(empty_paths)
    assert empty_paths.schema.simpleString() == "struct<path:array<string>,depth:int>"
    # non-empty stays on the Arrow local path with values intact
    one = local_df(spark, [(["a", "b"], 1)], "path array<string>, depth int")
    assert "LocalTableScan" in plan_of(one)
    assert one.collect()[0].path == ["a", "b"]



def test_local_df_round_trips_nulls(spark):
    """local_df keeps SQL semantics for missing values: None in a double
    column and in a mixed-null int column comes back as NULL (not NaN), a
    real NaN stays NaN, and pandas input's NaN missing marker is NULL."""
    import math

    import pandas as pd

    from agraph_spark.session import local_df

    ddl = "x double, n int, s string"
    df = local_df(spark, [(1.5, 1, "a"), (None, None, None), (float("nan"), 3, "c")], ddl)
    assert "LocalTableScan" in plan_of(df)
    assert df.selectExpr("count(x)", "count(n)", "count(s)").first() == (2, 2, 2)
    rows = df.collect()
    assert (rows[1].x, rows[1].n, rows[1].s) == (None, None, None)
    assert math.isnan(rows[2].x) and rows[0] == (1.5, 1, "a")
    pdf = pd.DataFrame({"x": [1.5, None], "n": [1, None], "s": ["a", None]})
    assert [tuple(r) for r in local_df(spark, pdf, ddl).collect()] == [
        (1.5, 1, "a"), (None, None, None)]

def test_zero_pair_lsh_mirror_is_local_and_cheap(spark):
    """The LSH driver cutover with ZERO surviving pairs (the d7_chain
    corpus shape: mutually distant names) must produce an empty
    LocalTableScan, not an empty python-conversion RDD."""
    from agraph_spark.caching import release_caches
    from agraph_spark.operators.linking import lsh_candidate_pairs

    import hashlib

    names = [hashlib.md5(str(i).encode()).hexdigest() for i in range(8)]
    nodes = spark.createDataFrame(
        [(f"e{i}", n, n, "t", 0.9) for i, n in enumerate(names)],
        "entity_id string, name string, name_norm string, entity_type string,"
        " confidence double")
    out = lsh_candidate_pairs(nodes)
    p = plan_of(out)
    release_caches(spark)
    assert out.count() == 0
    assert "LocalTableScan" in p and "ExistingRDD" not in p


def test_kernel_build_has_no_joins_and_one_exchange(spark):
    """Relation resolution, co-occurrence, validation and the triple dedup
    run inside the fused document kernel: the fused build_kg triples plan
    and the build_kg_from_texts triples and entities plans hold no join,
    the documents plans run the kernel once, and the fused build's only
    shuffle is the reassembly Exchange."""
    import re

    from agraph_spark.caching import release_caches
    from agraph_spark.pipeline import build_kg, build_kg_from_texts
    from agraph_spark.synth import transcripts_df

    def joins(p):
        return [n for n in ("Join", "CartesianProduct") if n in p]

    p = plan_of(build_kg(transcripts_df(spark, n_convs=6, seed=5)).triples)
    release_caches(spark)
    assert not joins(p), p
    # AQE prints the Exchange under both its final and initial plan, with one id
    assert len(set(re.findall(r"\bExchange \((\d+)\)", p))) == 1, p
    docs = spark.createDataFrame(
        [("a", "Alice Smith works for Acme Corp. Acme Corp develops Python.")],
        "conv_id string, text string")
    build = build_kg_from_texts(docs)
    for out in (build.triples, build.entities):
        p = plan_of(out)
        assert not joins(p), p
        # the formatted plan names each operator once in its tree and once
        # in its detail section, under one id
        assert len(set(re.findall(r"\bMapInPandas \((\d+)\)", p))) == 1, p
    release_caches(spark)


def _lambda_bodies(plan: str) -> list[str]:
    """The argument text of every ``lambdafunction(...)`` in a plan string."""
    opener = "lambdafunction("
    bodies, start = [], 0
    while (i := plan.find(opener, start)) >= 0:
        j, depth = i + len(opener), 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        bodies.append(plan[i + len(opener):j - 1])
        start = j
    return bodies


def test_word_arrays_are_projected_before_the_lambdas(spark):
    """Higher-order lambdas run interpreted, without common-subexpression
    elimination: a strip/split referenced inside one is re-run for every
    shingle or chunk, quadratic in document length. The shingle and chunk
    lambdas must reference the projected word array instead."""
    import re

    from agraph_spark.operators.chunking import chunk_documents
    from agraph_spark.operators.dedup_docs import shingle_table

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    convs = spark.createDataFrame([("c1", "a b c d e")], "conv_id string, text string")
    for name, df in (("shingle_table", shingle_table(docs)),
                     ("chunk_documents", chunk_documents(convs, 4, 1))):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bodies = _lambda_bodies(plan)
        assert bodies, (name, plan)
        for body in bodies:
            assert "split(" not in body and "regexp_replace(" not in body, (name, body)
            assert re.search(r"slice\(words#\d+", body), (name, body)


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_memoized_probe_runs_no_job(spark, tmp_path):
    """adaptive.cutover keeps the rows of a probe over cached data: the
    second k-hop query on a persisted edge table collects nothing, so it
    runs no Spark job at all (its result is a local table)."""
    from agraph_spark.operators.components import bfs_distances

    path = str(tmp_path / "edges")
    spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")],
                          "head_id string, tail_id string").write.parquet(path)
    edges = spark.read.parquet(path).persist()
    try:
        assert _jobs(spark, "memo_first", lambda: bfs_distances(edges, "a")) >= 1
        assert _jobs(spark, "memo_second", lambda: bfs_distances(edges, "b")) == 0
        edges.unpersist()
        assert _jobs(spark, "memo_unpersisted", lambda: bfs_distances(edges, "a")) >= 1
    finally:
        edges.unpersist()


def test_chat_context_scores_each_row_once(spark, forced_path):
    """On the distributed path the score threshold applies after the
    per-namespace rank, so Catalyst cannot push it into the nested-loop
    join that scores the union: the join has no condition and the
    interpreted cosine fold runs once per row."""
    from agraph_spark.operators.retrieval import chat_context
    from agraph_spark.operators.vectors import embed_hash_stub

    def table(id_col, n):
        return embed_hash_stub(spark.createDataFrame(
            [(f"{id_col}{i}", f"text {i}") for i in range(n)],
            f"{id_col} string, render_text string"))

    q = embed_hash_stub(spark.createDataFrame([("apple",)], "render_text string"))
    with forced_path("distributed"):
        out = chat_context(table("entity_id", 5), table("edge_id", 4), table("chunk_id", 3),
                           q.select(F.col("embedding").alias("query_vec")), threshold=0.1)
    details = [d for d in plan_of(out).split("\n\n") if "BroadcastNestedLoopJoin\n" in d]
    assert len(details) == 1 and "Join condition: None" in details[0], details


def test_second_chat_context_runs_only_the_assembly(spark):
    """vectors.driver_topk collects the persisted embedding tables once, as
    an Arrow table the cutover memo keeps: a second chat_context builds
    without a Spark job, and its plan reads only the local top-k rows, so
    no job of its collect scans an embedding cache."""
    from agraph_spark.operators.retrieval import chat_context
    from agraph_spark.operators.vectors import embed_hash_stub
    from agraph_spark.session import local_df

    def table(id_col, n):
        return embed_hash_stub(spark.createDataFrame(
            [(f"{id_col}{i}", f"text {i}") for i in range(n)],
            f"{id_col} string, render_text string")).persist()

    def query(text):
        q = embed_hash_stub(local_df(spark, [(text,)], "render_text string"))
        return q.select(F.col("embedding").alias("query_vec"))

    tables = (table("entity_id", 6), table("edge_id", 5), table("chunk_id", 4))
    try:
        first = _jobs(spark, "chat_first",
                      lambda: chat_context(*tables, query("apple"), threshold=-1.0).collect())
        out = []
        assert _jobs(spark, "chat_second_build", lambda: out.append(
            chat_context(*tables, query("pear"), threshold=-1.0))) == 0
        assert "InMemory" not in plan_of(out[0])
        second = _jobs(spark, "chat_second_collect", out[0].collect)
        assert 1 <= second < first, (first, second)
    finally:
        for t in tables:
            t.unpersist()
