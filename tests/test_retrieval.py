"""Retrieval: union-pass multi-index search, hybrid scoring, connected-chunk
expansion, cosine top-k vs NumPy."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField

from agraph_spark.operators.retrieval import (
    _namespace_topk,
    _namespaces,
    chat_context,
    chat_context_hits,
    expand_connected_chunks,
    hybrid_search_chunks,
    search_graph_modes,
    search_knowledge,
)
from agraph_spark.session import local_df
from agraph_spark.operators.vectors import (
    ann_topk_lsh,
    cosine_scores,
    embed_hash_stub,
    topk_similar,
)


def test_topk_vs_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((200, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame([(vecs[7].tolist(),)], "query_vec array<float>")
    got = [(r.vec_id, r.score) for r in topk_similar(df, q, k=5).collect()]
    sims = (vecs @ vecs[7]) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[7]))
    want_ids = np.argsort(-sims)[:5].tolist()
    assert [g[0] for g in got] == want_ids
    assert got[0][0] == 7 and abs(got[0][1] - 1.0) < 1e-6


def test_search_knowledge_union_pass(spark):
    nodes = embed_hash_stub(
        spark.createDataFrame([("e1", "apple"), ("e2", "pear")], "entity_id string, render_text string")
    )
    edges = embed_hash_stub(
        spark.createDataFrame([("r1", "apple grows")], "edge_id string, render_text string")
    )
    chunks = embed_hash_stub(
        spark.createDataFrame([("c1", "apple text"), ("c2", "other")], "chunk_id string, render_text string")
    )
    q = embed_hash_stub(
        spark.createDataFrame([("q", "apple")], "qid string, render_text string")
    ).select(F.col("embedding").alias("query_vec"))
    out = search_knowledge(nodes, edges, chunks, q, k=2, threshold=-1.0)
    by_ns = {}
    for r in out.collect():
        by_ns.setdefault(r.namespace, []).append(r.item_id)
    assert set(by_ns) == {"entity", "relation", "text_chunk"}
    assert len(by_ns["entity"]) == 2 and len(by_ns["text_chunk"]) == 2


def test_hybrid_search_prefers_exact_substring(spark):
    chunks = embed_hash_stub(
        spark.createDataFrame(
            [("c1", "the apple pie recipe", None), ("c2", "unrelated words here", None)],
            "chunk_id string, content string, title string",
        ).withColumn("render_text", F.col("content"))
    )
    q = embed_hash_stub(
        spark.createDataFrame([("apple pie",)], "render_text string")
    ).select(F.col("embedding").alias("query_vec"))
    top = hybrid_search_chunks(chunks, "apple pie", q, k=1).first()
    assert top.chunk_id == "c1" and top.text_score == 0.8
    # k=None: every scored row, and no sort for the caller to repeat
    every = hybrid_search_chunks(chunks, "apple pie", q, k=None)
    assert "Sort" not in every._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(r.chunk_id for r in every.collect()) == ["c1", "c2"]


def test_expand_connected_chunks(spark):
    retrieved = spark.createDataFrame(
        [("e1", "entity", 0.9), ("e2", "entity", 0.5), ("r1", "relation", 0.7)],
        "item_id string, namespace string, score double",
    )
    links = spark.createDataFrame(
        [("c1", "e1"), ("c1", "e2"), ("c2", "e2"), ("c3", "zzz")],
        "chunk_id string, entity_id string",
    )
    out = {r.chunk_id: r.n_connections for r in expand_connected_chunks(retrieved, links).collect()}
    assert out == {"c1": 2, "c2": 1}


def test_search_namespace_threshold(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame([([1.0, 0.0],)], "query_vec array<float>")
    got = [r.vec_id for r in topk_similar(df, q, k=10, threshold=0.5, id_col="vec_id").collect()]
    assert got == [1, 3]


def test_ann_topk_lsh_vs_numpy(spark):
    """LSH ANN: the candidates are exactly the rows whose sign bucket
    (one bit per plane, dot >= 0) equals the query's, reranked by cosine
    with an id tiebreak and no threshold."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((300, 16)).astype("float32")
    planes = rng.standard_normal((3, 16))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    v64 = vecs.astype("float64")
    bucket = ((v64 @ planes.T >= 0) * (1 << np.arange(3))).sum(axis=1)
    for qi in (4, 123):
        q = spark.createDataFrame([(vecs[qi].tolist(),)], "query_vec array<float>")
        cand = np.flatnonzero(bucket == bucket[qi])
        sims = (v64[cand] @ v64[qi]) / (np.linalg.norm(v64[cand], axis=1) * np.linalg.norm(v64[qi]))
        want = sorted(zip(cand.tolist(), sims.tolist()), key=lambda t: (-t[1], t[0]))
        for k in (5, len(vecs)):
            got = [(r.vec_id, r.score) for r in ann_topk_lsh(df, q, planes.tolist(), k=k).collect()]
            assert [g[0] for g in got] == [w[0] for w in want[:k]]
            assert all(abs(g[1] - w[1]) < 1e-9 for g, w in zip(got, want))
        # negative scores stay in: the rerank applies no threshold
        assert len(got) == len(cand) and min(g[1] for g in got) < 0


def test_search_knowledge_equals_chat_context_hits(spark):
    """The two union-table searches share one scorer and one per-namespace
    top-k: with equal k's they return the same (namespace, item_id, score)
    set."""
    def ns(id_col, prefix, n):
        return embed_hash_stub(spark.createDataFrame(
            [(f"{prefix}{i}", f"{prefix} text {i}") for i in range(n)],
            f"{id_col} string, render_text string"))

    nodes, edges, chunks = ns("entity_id", "e", 7), ns("edge_id", "r", 5), ns("chunk_id", "c", 6)
    q = embed_hash_stub(
        spark.createDataFrame([("e text 3",)], "render_text string")
    ).select(F.col("embedding").alias("query_vec"))
    for k, threshold in ((3, -1.0), (4, 0.0), (10, 0.2)):
        sk = {(r.namespace, r.item_id, r.score)
              for r in search_knowledge(nodes, edges, chunks, q, k=k, threshold=threshold).collect()}
        hits = chat_context_hits(nodes, edges, chunks, q, k_entities=k, k_relations=k,
                                 k_chunks=k, threshold=threshold)
        assert sk == {(r.namespace, r.item_id, r.score) for r in hits.collect()}
        assert sk


def test_chat_context_assembly(spark):
    """V10: per-namespace top-k respects distinct k's; kg_context is valid
    JSON in retrieval-rank order; text_content numbers the chunk prefixes."""
    import json

    from agraph_spark.operators.retrieval import chat, chat_context
    from agraph_spark.operators.vectors import embed_hash_stub
    from pyspark.sql import functions as F

    mk = lambda rows, idc: embed_hash_stub(
        spark.createDataFrame(rows, f"{idc} string, render_text string"))
    nodes = mk([(f"e{i}", f"entity topic {i}") for i in range(10)], "entity_id")
    edges = mk([(f"r{i}", f"rel {i} connects") for i in range(8)], "edge_id")
    chunks = mk([(f"c{i}", f"chunk body {i} join query") for i in range(12)], "chunk_id")
    q = embed_hash_stub(spark.createDataFrame([("join query",)], "render_text string")) \
        .select(F.col("embedding").alias("query_vec"))
    r = chat_context(nodes, edges, chunks, q, k_entities=3, k_relations=2,
                     k_chunks=4, threshold=-1.0).collect()[0]
    assert (r.n_entities, r.n_relations, r.n_chunks) == (3, 2, 4)
    ctx = json.loads(r.kg_context)
    assert sorted(ctx) == ["entities", "relations", "text_chunks"]
    assert len(ctx["entities"]) == 3 and len(ctx["text_chunks"]) == 4
    scores = [e["score"] for e in ctx["entities"]]
    assert scores == sorted(scores, reverse=True)
    lines = r.text_content.splitlines()
    assert len(lines) == 4 and lines[0].startswith("文本片段 1: ")
    # driver-side wrapper: deterministic stub answer, same context
    resp = chat(nodes, edges, chunks, q, "join query", k_entities=3,
                k_relations=2, k_chunks=4, threshold=-1.0)
    assert resp["answer"].startswith("[stub-answer ")
    assert resp["n_chunks"] == 4


def test_chat_context_enhanced_connected_chunks(spark):
    """Enhanced V10 (achat_enhanced): chunks linked to retrieved entities
    join the text_chunk set, deduplicated against direct hits, ranked after
    them by V9 relevance."""
    import json

    from agraph_spark.operators.retrieval import chat_context
    from agraph_spark.operators.vectors import embed_hash_stub
    from pyspark.sql import functions as F

    mk = lambda rows, idc: embed_hash_stub(
        spark.createDataFrame(rows, f"{idc} string, render_text string"))
    nodes = mk([(f"e{i}", f"entity topic {i}") for i in range(6)], "entity_id")
    edges = mk([(f"r{i}", f"rel {i}") for i in range(4)], "edge_id")
    chunks = mk([(f"c{i}", f"chunk body {i}") for i in range(10)], "chunk_id")
    q = embed_hash_stub(spark.createDataFrame([("topic",)], "render_text string")) \
        .select(F.col("embedding").alias("query_vec"))
    # every entity links to chunk c9 (and e0 also to c0)
    links = spark.createDataFrame(
        [(f"e{i}", "c9") for i in range(6)] + [("e0", "c0")],
        "entity_id string, chunk_id string")
    base = chat_context(nodes, edges, chunks, q, k_entities=3, k_relations=2,
                        k_chunks=2, threshold=-1.0).collect()[0]
    enh = chat_context(nodes, edges, chunks, q, k_entities=3, k_relations=2,
                       k_chunks=2, threshold=-1.0,
                       chunk_entity_links=links, k_connected=5).collect()[0]
    assert enh.n_chunks > base.n_chunks
    ctx = json.loads(enh.kg_context)
    chunk_ids = [c["id"] for c in ctx["text_chunks"]]
    assert "c9" in chunk_ids                      # connected chunk included
    assert len(chunk_ids) == len(set(chunk_ids))  # deduped vs direct hits
    assert chunk_ids[:base.n_chunks] == [c["id"] for c in json.loads(base.kg_context)["text_chunks"]]


def test_render_text_reference_forms(spark):
    """V1 renderers match the reference's string forms
    (graph_embedding.py:345-366, 529-548)."""
    from agraph_spark.operators.vectors import (
        render_chunk_text,
        render_entity_text,
        render_relation_text,
    )

    nodes = spark.createDataFrame(
        [("e1", "Acme", "corp desc", ["AC", "acme inc"]),
         ("e2", "Bare", "", [])],
        "entity_id string, name string, description string, aliases array<string>")
    got = {r.entity_id: r.render_text for r in render_entity_text(nodes).collect()}
    assert got["e1"] == "Acme corp desc 别名: AC, acme inc"
    assert got["e2"] == "Bare"

    edges = spark.createDataFrame(
        [("r1", "Acme", "contains", "Paris", "geo note"),
         ("r2", None, "related_to", None, "")],
        "edge_id string, head_name string, pred string, tail_name string, description string")
    got = {r.edge_id: r.render_text for r in render_relation_text(edges).collect()}
    assert got["r1"] == "Acme contains Paris geo note"
    assert got["r2"] == "related_to"

    # reference TextChunk.chunk_type defaults to "paragraph", so the Type
    # part is ALWAYS present in _text_chunk_to_text output (ADVICE r2)
    chunks = spark.createDataFrame(
        [("c1", "T", "body text", "web")],
        "chunk_id string, title string, content string, source string")
    assert render_chunk_text(chunks).collect()[0].render_text == \
        "Title: T | Content: body text | Source: web | Type: paragraph"

    typed = spark.createDataFrame(
        [("c2", None, "body", None, "code", {"lang": "py", "n": "3"})],
        "chunk_id string, title string, content string, source string, "
        "chunk_type string, metadata map<string,string>")
    assert render_chunk_text(typed).collect()[0].render_text == \
        "Content: body | Type: code | Metadata: lang: py, n: 3"


def test_search_graph_modes(spark):
    """Native naive/local/global/hybrid search over a planted graph: each
    mode seeds from its namespace and expands along the declared joins."""
    from agraph_spark.operators.retrieval import search_graph_modes

    # query vector aligned with E1 (entities), R9 (relations), C7 (chunks)
    q = spark.createDataFrame([([1.0, 0.0],)], "query_vec array<double>")
    nodes = spark.createDataFrame(
        [("E1", [1.0, 0.0]), ("E2", [0.9, 0.1]), ("E3", [0.0, 1.0])],
        "entity_id string, embedding array<double>")
    edges = spark.createDataFrame(
        [("R9", "E3", "E4", [1.0, 0.0]),   # best relation, endpoints E3/E4
         ("R1", "E1", "E3", [0.0, 1.0]),   # incident to seed entity E1
         ("R2", "E5", "E6", [0.1, 0.9])],  # disconnected from seeds
        "edge_id string, head_id string, tail_id string, embedding array<double>")
    chunks = spark.createDataFrame(
        [("C7", [1.0, 0.0]), ("C8", [0.0, 1.0])],
        "chunk_id string, embedding array<double>")
    links = spark.createDataFrame(
        [("C8", "E1"), ("C7", "E4")], "chunk_id string, entity_id string")

    def got(mode, k=2):
        return {(r.namespace, r.item_id, r.origin) for r in search_graph_modes(
            nodes, edges, chunks, q, mode=mode, k=k,
            chunk_entity_links=links, threshold=-1.0).collect()}

    assert got("naive") == {("text_chunk", "C7", "naive"),
                            ("text_chunk", "C8", "naive")}

    # local: seeds E1,E2 -> incident relation R1 -> E1's chunk C8
    assert got("local") == {("entity", "E1", "local"), ("entity", "E2", "local"),
                            ("relation", "R1", "local"),
                            ("text_chunk", "C8", "local")}

    # global: seeds R9,R2 -> endpoints E3,E4,E5,E6 -> E4's chunk C7
    g = got("global")
    assert ("relation", "R9", "global") in g and ("relation", "R2", "global") in g
    assert {("entity", e, "global") for e in ["E3", "E4", "E5", "E6"]} <= g
    assert ("text_chunk", "C7", "global") in g

    # hybrid = union, deduped per (namespace, item_id)
    h = got("hybrid")
    ids = {(ns, i) for ns, i, _ in h}
    assert ids == {(ns, i) for ns, i, _ in got("local") | got("global")}
    assert len(ids) == len(h)  # no duplicate (namespace, item_id)

    import pytest as _pt
    with _pt.raises(ValueError):
        search_graph_modes(nodes, edges, chunks, q, mode="bogus")


@pytest.mark.parametrize("dim", [8, 16])
@pytest.mark.parametrize("text_col", ["render_text", "query text-1"])
def test_embed_hash_stub_expr_equals_column_build(spark, dim, text_col):
    """The one-expression build gives the per-component Column build's
    floats bit for bit, with the same schema, on null, empty and
    non-ASCII text and on a column name that needs quoting."""
    texts = [None, "", "apple", "naïve café — 東京 🚀", "a" * 300, "#3"]
    df = spark.createDataFrame(list(enumerate(texts)), f"id int, `{text_col}` string")
    comps = [
        ((F.pmod(F.xxhash64(F.concat(F.col(text_col), F.lit(f"#{i}"))), F.lit(2000)) - 1000)
         / 1000.0).cast("float")
        for i in range(dim)
    ]
    want = df.withColumn("embedding", F.array(*comps))
    got = embed_hash_stub(df, text_col=text_col, dim=dim)
    assert got.schema == want.schema

    def bits(frame):
        return [(r.id, None if r.embedding is None else
                 np.array(r.embedding, dtype="float32").tobytes())
                for r in frame.orderBy("id").collect()]
    assert bits(got) == bits(want)


VECS = [[1.0, 0.0, 0.0], [1.0, 0.0, 0.0], [0.6, 0.8, 0.0], [0.0, 1.0, 0.0],
        [-1.0, 0.0, 0.0], [0.0, 0.0, 0.0], [0.6, 0.8, 0.0], [-0.5, -0.5, 0.1],
        [0.3, -0.2, 0.9]]


def _local(df) -> bool:
    """Whether ``df`` is the driver mirror's local frame."""
    return "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("threshold", [-1.0, 0.0, 0.5, 1.1])
def test_threshold_after_rank_equals_filter_first(spark, threshold):
    """Filtering score >= threshold after the rank (or after the top-k
    limit) keeps the rows and ranks of filtering first: tied scores, a
    zero vector, a NaN score (sorts first, passes) and a null embedding
    (null score: sorts last, fails) included. Rows compare by repr, as
    NaN != NaN. The null and NaN rows make the driver mirror decline."""
    vecs = VECS[:6] + [None, VECS[6], [float("nan"), 0.0, 0.0]]
    _threshold_after_rank(spark, threshold, vecs, served=False)


@pytest.mark.parametrize("threshold", [-1.0, 0.0, 0.5, 1.1])
def test_threshold_after_rank_equals_filter_first_null_free(spark, threshold):
    """The same on null-free rows, which the driver mirror serves."""
    _threshold_after_rank(spark, threshold, VECS, served=True)


def _threshold_after_rank(spark, threshold, vecs, served):
    rows = [(f"i{j}", v) for j, v in enumerate(vecs)]
    frame = spark.createDataFrame(rows, "id string, embedding array<float>")
    query = spark.createDataFrame([([1.0, 0.5, 0.0],)], "query_vec array<float>")
    tables = [frame.withColumnRenamed("id", c) for c in ("entity_id", "edge_id", "chunk_id")]
    union = _namespaces(*tables)
    w = Window.partitionBy("namespace").orderBy(F.desc("score"), F.asc("item_id"))
    for k in (1, 3, 10):
        want = (cosine_scores(union, query).where(F.col("score") >= threshold)
                .withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k))
        got = _namespace_topk(union, query, threshold, k)
        assert _local(got) == served
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect())), k
        want = (cosine_scores(frame, query).where(F.col("score") >= threshold)
                .orderBy(F.desc("score"), F.asc("id")).limit(k))
        got = topk_similar(frame, query, k, threshold, "id")
        assert _local(got) == served
        assert list(map(repr, got.collect())) == list(map(repr, want.collect())), k


def _serving_tables(spark, id_type, vec_type, vecs=VECS):
    """nodes, edges (with head_id/tail_id), chunks and chunk-entity links
    over ``vecs``: tied rows, a zero vector and negative scores, 9/7/4
    rows per namespace, long ids (40-char strings or ids past 2^40)."""
    def ident(prefix, j):
        return (f"{prefix}-{'x' * 38}{j}" if id_type == "string"
                else {"e": 1 << 40, "r": 1 << 41, "c": 1 << 42}[prefix] - 7 * j)

    def table(prefix, id_col, n, extra=lambda j: ()):
        return local_df(
            spark,
            [(ident(prefix, j), *extra(j), f"{prefix} text {j}", vecs[(j * 4) % len(vecs)])
             for j in range(n)],
            f"{id_col} {id_type}, " + "".join(f"{c} {id_type}, " for c in (
                ["head_id", "tail_id"] if id_col == "edge_id" else []))
            + f"render_text string, embedding array<{vec_type}>")

    nodes = table("e", "entity_id", len(vecs))
    edges = table("r", "edge_id", 7, lambda j: (ident("e", j), ident("e", (j * 2 + 1) % 9)))
    chunks = table("c", "chunk_id", 4)
    links = local_df(
        spark, [(ident("c", j % 4), ident("e", j)) for j in range(9)],
        f"chunk_id {id_type}, entity_id {id_type}")
    return nodes, edges, chunks, links


def _vector_sites(tables, query, k, threshold, modes=("naive", "local", "global", "hybrid")):
    """Every single-query top-k caller, as name -> (build, ordered)."""
    nodes, edges, chunks, links = tables
    union = _namespaces(nodes, edges, chunks, F.col("render_text").alias("content"))
    sites = {
        "namespace_topk": (lambda: _namespace_topk(union, query, threshold, k), False),
        "topk_similar": (lambda: topk_similar(edges, query, k, threshold, "edge_id"), True),
        "search_knowledge": (lambda: search_knowledge(
            nodes, edges, chunks, query, k=k, threshold=threshold), False),
        "chat_context": (lambda: chat_context(
            nodes, edges, chunks, query, k_entities=k, k_relations=2, k_chunks=k + 1,
            threshold=threshold, chunk_entity_links=links), True),
    }
    for mode in modes:
        sites[mode] = (lambda mode=mode: search_graph_modes(
            nodes, edges, chunks, query, mode=mode, k=k,
            chunk_entity_links=links, threshold=threshold), False)
    return sites


def _outcomes(sites, names=None):
    """name -> (schema, rows as repr), rows sorted unless ordered."""
    out = {}
    for name, (build, ordered) in sites.items():
        if names is None or name in names:
            df = build()
            rows = list(map(repr, df.collect()))
            out[name] = df.schema, rows if ordered else sorted(rows)
    return out


@pytest.mark.parametrize("id_type,vec_type", [("string", "float"), ("bigint", "double")])
def test_forced_driver_topk_equals_forced_distributed(spark, forced_path, id_type, vec_type):
    """vectors.driver_topk gives the window/limit plan's schema (``rk`` a
    non-null int) and rows, in topk_similar's order and, for
    chat_context, the same JSON string, at every site that calls it:
    ties, a zero vector, negative scores, k above a namespace's size and
    thresholds below, at and above the scores. The graph modes run at
    two of the four settings."""
    from agraph_spark.operators import vectors

    tables = _serving_tables(spark, id_type, vec_type)
    query = local_df(spark, [([1.0, 0.5, 0.0],)], f"query_vec array<{vec_type}>")
    served = []
    real = vectors._topk_rows
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(vectors, "_topk_rows", lambda *a: served.append(real(*a)) or served[-1])
        for threshold, k, modes in ((-1.0, 10, ("naive", "local", "global", "hybrid")),
                                    (0.0, 3, ()), (0.5, 1, ("local", "hybrid")), (1.1, 3, ())):
            sites = _vector_sites(tables, query, k, threshold, modes)
            with forced_path("driver"):
                driver = _outcomes(sites)
            assert served and all(rows is not None for rows in served)
            del served[:]
            with forced_path("distributed"):
                dist = _outcomes(sites)
            assert not served
            assert driver == dist, (threshold, k)
            assert [f for f in driver["namespace_topk"][0] if f.name == "rk"] == [
                StructField("rk", IntegerType(), False)]
    json_rows = driver["chat_context"][1]
    assert len(json_rows) == 1 and '"text_chunks"' in json_rows[0]


@pytest.mark.parametrize("vec_type", ["float", "double"])
def test_driver_scores_bitwise_equal_distributed(spark, forced_path, vec_type):
    """The driver fold gives every score of the JVM fold bit for bit on
    random 16-dim vectors, where a reordered sum (a BLAS dot, a pairwise
    sum) moves the last bits."""
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((300, 16)).astype({"float": "float32", "double": "float64"}[vec_type])
    df = local_df(spark, [(i, v.tolist()) for i, v in enumerate(vecs)],
                  f"vec_id long, embedding array<{vec_type}>")
    q = local_df(spark, [(rng.standard_normal(16).tolist(),)], "query_vec array<double>")
    with forced_path("driver"):
        driver = topk_similar(df, q, k=300, threshold=-1.0)
        assert _local(driver)
        driver = [(r.vec_id, r.score.hex()) for r in driver.collect()]
    with forced_path("distributed"):
        dist = [(r.vec_id, r.score.hex()) for r in topk_similar(df, q, k=300, threshold=-1.0).collect()]
    assert driver == dist


@pytest.mark.parametrize("bad", ["null", "ragged", "nan", "null-element"])
def test_driver_topk_declines_what_it_cannot_reproduce(spark, forced_path, bad):
    """A null, ragged, NaN-scored or null-element row makes the mirror
    decline, and the window/limit plan answers."""
    from agraph_spark.operators import vectors

    row = {"null": None, "ragged": [1.0, 0.5], "nan": [float("nan"), 0.0, 0.0],
           "null-element": [1.0, None, 0.0]}[bad]
    tables = _serving_tables(spark, "string", "float", VECS[:4] + [row] + VECS[5:])
    query = local_df(spark, [([1.0, 0.5, 0.0],)], "query_vec array<float>")
    served = []
    real = vectors._topk_rows
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(vectors, "_topk_rows", lambda *a: served.append(real(*a)) or served[-1])
        sites = _vector_sites(tables, query, 3, -1.0, modes=("naive",))
        with forced_path("driver"):
            driver = _outcomes(sites, ("namespace_topk", "naive"))
    assert served and all(rows is None for rows in served)
    with forced_path("distributed"):
        assert driver == _outcomes(sites, ("namespace_topk", "naive"))


def test_driver_topk_declines_a_query_it_cannot_reproduce(spark, forced_path):
    """A query of two rows, with an extra column or with a null element
    runs the window/limit plan."""
    from agraph_spark.operators.vectors import driver_topk

    nodes = _serving_tables(spark, "string", "float")[0]
    for query in (
        spark.createDataFrame([([1.0, 0.0, 0.0],), ([0.0, 1.0, 0.0],)], "query_vec array<float>"),
        spark.createDataFrame([("q", [1.0, 0.0, 0.0])], "qid string, query_vec array<float>"),
        spark.createDataFrame([([1.0, None, 0.0],)], "query_vec array<float>"),
    ):
        with forced_path("driver"):
            assert driver_topk(nodes, query, 3, 0.0, "entity_id") is None
