"""Retrieval over the materialized graph (SURVEY.md §2.8 V5-V9).

Reference: KnowledgeRetriever (/root/reference/agraph/retrieval/
knowledge_retriever.py) runs three parallel brute-force vector searches
(entities/relations/chunks) and optionally expands to connected chunks.
Spark restatement: one scored scan per namespace (or a single union-table
pass), window top-k, and the expansion as a join over chunk link arrays.
A top-k within ``adaptive.VECTOR_VALUES`` runs as the reference's scan
does, on the driver (``vectors.driver_topk``).
The final RAG answer-generation call stays driver-side by design (single
query, network-bound) — out of engine scope (SURVEY.md V10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .vectors import cosine_scores, driver_topk, topk_similar


def _namespaces(
    nodes: DataFrame, edges_rendered: DataFrame, chunks: DataFrame, *cols: F.Column
) -> DataFrame:
    """The three retrieval namespaces as one union table:
    (item_id, namespace, *cols, embedding)."""

    def ns(df: DataFrame, id_col: str, name: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias("item_id"), F.lit(name).alias("namespace"), *cols, "embedding"
        )

    return (
        ns(nodes, "entity_id", "entity")
        .unionByName(ns(edges_rendered, "edge_id", "relation"))
        .unionByName(ns(chunks, "chunk_id", "text_chunk"))
    )


def _namespace_topk(
    union: DataFrame, query: DataFrame, threshold: float, k: int | dict[str, int]
) -> DataFrame:
    """Per-namespace top-k over a ``_namespaces`` table: score, rank each
    namespace by (score desc, item_id asc) into ``rk``, keep rk <= k (an
    int, or a dict namespace -> k; a namespace it lacks keeps nothing) and
    score >= threshold. ``vectors.driver_topk`` serves it when it can
    reproduce the window plan's rows.

    The threshold applies after the rank: it keeps a prefix of that order
    (NaN sorts first and passes, null sorts last and fails), so the rows
    and their ``rk`` are those of filtering first. Before the rank,
    Catalyst pushed it into the nested-loop join condition and the
    interpreted cosine ran twice per row."""
    local = driver_topk(union, query, k, threshold, "item_id", group_col="namespace")
    if local is not None:
        return local
    if isinstance(k, dict):
        k = F.create_map(*[F.lit(x) for item in k.items() for x in item])[F.col("namespace")]
    w = Window.partitionBy("namespace").orderBy(F.desc("score"), F.asc("item_id"))
    return (
        cosine_scores(union, query)
        .withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") <= k) & (F.col("score") >= threshold))
    )


def search_knowledge(
    nodes: DataFrame,
    edges_rendered: DataFrame,
    chunks: DataFrame,
    query: DataFrame,
    k: int = 10,
    threshold: float = 0.0,
) -> DataFrame:
    """V8: entity+relation+chunk retrieval as ONE union-table pass — each
    input carries (item_id, namespace, embedding); per-namespace top-k via a
    window (the reference's three asyncio-parallel scans,
    knowledge_retriever.py:264-313, become one scan of a union)."""
    u = _namespaces(nodes, edges_rendered, chunks)
    return _namespace_topk(u, query, threshold, k).drop("rk")


def hybrid_search_chunks(
    chunks: DataFrame,
    query_text: str,
    query: DataFrame,
    k: int | None = 10,
    text_weight: float = 0.3,
    vector_weight: float = 0.7,
) -> DataFrame:
    """V6 (json_storage.py:750-814): text score = 0.8 exact-substring /
    0.6 title hit / word-overlap ratio, combined with cosine at the
    normalized weights. ``k=None`` returns every scored row, unsorted,
    for a caller that ranks them itself."""
    ql = query_text.lower()
    q_words = F.array(*[F.lit(w) for w in sorted(set(ql.split()))])
    content_l = F.lower(F.col("content"))
    overlap = F.size(F.array_intersect(F.split(content_l, r"\s+"), q_words)) / F.greatest(
        F.size(q_words), F.lit(1)
    )
    text_score = (
        F.when(F.instr(content_l, ql) > 0, 0.8)
        .when(F.instr(F.lower(F.coalesce(F.col("title"), F.lit(""))), ql) > 0, 0.6)
        .otherwise(overlap)
    )
    tw = text_weight / (text_weight + vector_weight)
    vw = vector_weight / (text_weight + vector_weight)
    scored = cosine_scores(chunks, query).select(
        "*",
        text_score.alias("text_score"),
        F.round(tw * text_score + vw * F.col("score"), 9).alias("hybrid_score"),
    )
    if k is None:
        return scored
    return scored.orderBy(F.desc("hybrid_score"), F.asc("chunk_id")).limit(k)


def expand_connected_chunks(
    retrieved: DataFrame,
    chunk_entity_links: DataFrame,
    k_extra: int = 10,
) -> DataFrame:
    """V9 (knowledge_retriever.py:315-453): chunks linked to retrieved
    entities, relevance = connection-count-boosted mean of the retrieval
    scores of the entities linking to them."""
    hits = retrieved.where(F.col("namespace") == "entity").select(
        F.col("item_id").alias("entity_id"), "score"
    )
    linked = chunk_entity_links.select("chunk_id", "entity_id").join(hits, "entity_id")
    return (
        linked.groupBy("chunk_id")
        .agg(
            F.round(F.avg("score") * (1 + F.log1p(F.count("*")) / 10.0), 9).alias("relevance"),
            F.count("*").alias("n_connections"),
        )
        .orderBy(F.desc("relevance"), F.asc("chunk_id"))
        .limit(k_extra)
    )


def search_graph_modes(
    nodes: DataFrame,
    edges_rendered: DataFrame,
    chunks: DataFrame,
    query: DataFrame,
    mode: str = "hybrid",
    k: int = 5,
    chunk_entity_links: DataFrame | None = None,
    threshold: float = 0.0,
) -> DataFrame:
    """Native naive/local/global/hybrid graph search — the engine-side
    restatement of the reference's asearch_graph delegation
    (builders/lightrag_builder.py:313-362, QueryParam(mode=...)); the
    reference hands these modes to the external LightRAG library, so the
    semantics here follow LightRAG's published design, re-expressed as
    DataFrame joins:

    - ``naive``: top-k chunks by cosine (plain vector retrieval).
    - ``local``: entity-centric — top-k entities seed the result; their
      incident relations and (via ``chunk_entity_links``) their source
      chunks join it, scored by the max seed-entity score.
    - ``global``: relation/theme-centric — top-k relations seed; their
      endpoint entities and those entities' chunks join, scored by the
      max seed-relation score.
    - ``hybrid``: union of local and global, deduplicated per
      (namespace, item_id) keeping the best score.

    ``edges_rendered`` needs (edge_id, head_id, tail_id, embedding).
    Seeds are k rows — every structural join broadcasts them, so the cost
    is one scored scan per seeded namespace plus broadcast lookups.
    Returns (item_id, namespace, score, origin).
    """
    out_cols = ["item_id", "namespace", "score", "origin"]

    def _topk(df: DataFrame, id_col: str, ns: str) -> DataFrame:
        return topk_similar(df, query, k, threshold, id_col).select(
            F.col(id_col).alias("item_id"), F.lit(ns).alias("namespace"), "score"
        )

    def _linked_chunks(seed_entities: DataFrame, origin: str) -> DataFrame:
        if chunk_entity_links is None:
            from ..session import local_df

            spark = nodes.sparkSession
            return local_df(
                spark, [],
                "item_id string, namespace string, score double, origin string"
            )
        return (
            chunk_entity_links.select("chunk_id", "entity_id")
            .join(F.broadcast(seed_entities), "entity_id")
            .groupBy(F.col("chunk_id").alias("item_id"))
            .agg(F.max("score").alias("score"))
            .select(
                "item_id", F.lit("text_chunk").alias("namespace"),
                "score", F.lit(origin).alias("origin"),
            )
        )

    def _local() -> DataFrame:
        seeds = _topk(nodes, "entity_id", "entity")
        seed_e = seeds.select(F.col("item_id").alias("entity_id"), "score")
        rels = (
            edges_rendered.select("edge_id", "head_id", "tail_id")
            .join(
                F.broadcast(seed_e),
                (F.col("head_id") == F.col("entity_id"))
                | (F.col("tail_id") == F.col("entity_id")),
            )
            .groupBy(F.col("edge_id").alias("item_id"))
            .agg(F.max("score").alias("score"))
            .select("item_id", F.lit("relation").alias("namespace"), "score",
                    F.lit("local").alias("origin"))
        )
        return (
            seeds.withColumn("origin", F.lit("local")).select(out_cols)
            .unionByName(rels.select(out_cols))
            .unionByName(_linked_chunks(seed_e, "local").select(out_cols))
        )

    def _global() -> DataFrame:
        seeds = _topk(edges_rendered, "edge_id", "relation")
        seed_r = seeds.select(F.col("item_id").alias("edge_id"), "score")
        ends = (
            edges_rendered.select("edge_id", "head_id", "tail_id")
            .join(F.broadcast(seed_r), "edge_id")
            .select(
                F.explode(F.array("head_id", "tail_id")).alias("entity_id"),
                "score",
            )
            .groupBy("entity_id")
            .agg(F.max("score").alias("score"))
        )
        ents = ends.select(
            F.col("entity_id").alias("item_id"),
            F.lit("entity").alias("namespace"), "score",
            F.lit("global").alias("origin"),
        )
        return (
            seeds.withColumn("origin", F.lit("global")).select(out_cols)
            .unionByName(ents.select(out_cols))
            .unionByName(_linked_chunks(ends, "global").select(out_cols))
        )

    if mode == "naive":
        return _topk(chunks, "chunk_id", "text_chunk").withColumn(
            "origin", F.lit("naive")
        ).select(out_cols)
    if mode == "local":
        return _local()
    if mode == "global":
        return _global()
    if mode == "hybrid":
        u = _local().unionByName(_global())
        return (
            u.groupBy("item_id", "namespace")
            .agg(F.max(F.struct("score", "origin")).alias("best"))
            .select("item_id", "namespace",
                    F.col("best.score").alias("score"),
                    F.col("best.origin").alias("origin"))
        )
    raise ValueError(f"unknown search mode: {mode!r}")


# ----------------------------------------------------------------- V10 chat

# Reference system prompt (agraph/config.py:85-120, RAG_SYS_PROMPT) —
# reproduced as data: the context contract ({history}/{kg_context}/
# {response_type} slots) is part of the reference's read-path semantics.
RAG_SYS_PROMPT = """---Role---

You are a helpful assistant responding to user query about Data Sources provided below.


---Goal---

Generate a concise response based on Data Sources and follow Response Rules, considering both the conversation history and the current query. Data sources contain two parts: Knowledge Graph(KG) and Document Chunks(DC). Summarize all information in the provided Data Sources, and incorporating general knowledge relevant to the Data Sources. Do not include information not provided by Data Sources.

---Conversation History---
{history}

---Data Sources---

1. From Knowledge Graph(KG):
{kg_context}

---Response Rules---

- Target format and length: {response_type}
- If you don't know the answer, just say so. Do not make anything up.
- Do not include information not provided by the Data Sources."""


def chat_context(
    nodes: DataFrame,
    edges_rendered: DataFrame,
    chunks: DataFrame,
    query: DataFrame,
    k_entities: int = 5,
    k_relations: int = 5,
    k_chunks: int = 5,
    threshold: float = 0.0,
    chunk_entity_links: DataFrame | None = None,
    k_connected: int = 5,
) -> DataFrame:
    """V10 context assembly (knowledge_retriever.py:793-860): the engine
    side of ChatKnowledgeRetriever.chat_llm — per-namespace top-k retrieval
    plus the JSON kg_context and the numbered text_content block the
    reference interpolates into RAG_SYS_PROMPT. Returns ONE row
    (kg_context, text_content, n_entities, n_relations, n_chunks); only the
    final LLM call stays driver-side (single network-bound request).

    ``chunk_entity_links`` enables the ENHANCED path (achat_enhanced,
    knowledge_retriever.py:940-1006): chunks connected to the retrieved
    entities (V9 expansion) join the text_chunk set — relevance-scored,
    deduplicated against the direct hits, ranked after them.

    The per-namespace top-k runs on the driver when ``vectors.driver_topk``
    can reproduce it (one numpy pass over the memoized union, at most k
    rows per namespace back as a local frame), else as one scored union
    pass with a window top-k; the JSON is assembled in Spark, to_json
    over collected structs."""
    hits = chat_context_hits(
        nodes, edges_rendered, chunks, query,
        k_entities=k_entities, k_relations=k_relations, k_chunks=k_chunks,
        threshold=threshold, chunk_entity_links=chunk_entity_links,
        k_connected=k_connected,
    )

    def _ns_json(ns: str) -> F.Column:
        item = F.when(
            F.col("namespace") == ns,
            F.struct(
                F.col("rk"),
                F.col("item_id").alias("id"),
                F.col("content"),
                F.round("score", 6).alias("score"),
            ),
        )
        ordered = F.transform(
            F.array_sort(F.collect_list(item)),
            lambda s: s.dropFields("rk"),
        )
        return F.to_json(ordered)

    chunk_line = F.when(
        F.col("namespace") == "text_chunk", F.struct(F.col("rk"), F.col("line"))
    )
    return hits.groupBy().agg(
        _ns_json("entity").alias("entities_json"),
        _ns_json("relation").alias("relations_json"),
        _ns_json("text_chunk").alias("chunks_json"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(chunk_line)), lambda s: s["line"]),
            "\n",
        ).alias("text_content"),
        F.sum(F.when(F.col("namespace") == "entity", 1).otherwise(0)).alias("n_entities"),
        F.sum(F.when(F.col("namespace") == "relation", 1).otherwise(0)).alias("n_relations"),
        F.sum(F.when(F.col("namespace") == "text_chunk", 1).otherwise(0)).alias("n_chunks"),
    ).select(
        F.concat(
            F.lit('{"entities": '), "entities_json",
            F.lit(', "relations": '), "relations_json",
            F.lit(', "text_chunks": '), "chunks_json", F.lit("}"),
        ).alias("kg_context"),
        "text_content",
        "n_entities",
        "n_relations",
        "n_chunks",
    )


def chat_context_hits(
    nodes: DataFrame,
    edges_rendered: DataFrame,
    chunks: DataFrame,
    query: DataFrame,
    k_entities: int = 5,
    k_relations: int = 5,
    k_chunks: int = 5,
    threshold: float = 0.0,
    chunk_entity_links: DataFrame | None = None,
    k_connected: int = 5,
) -> DataFrame:
    """The hit table chat_context assembles its JSON from:
    (item_id, namespace, content, score, rk, line) — per-namespace
    DISTINCT top-k (the k_map window), threshold filter, optional enhanced
    connected-chunk expansion, and the reference's rendered 文本片段 line
    for text_chunk hits. Exposed so the oracle gate can certify the
    assembly row-by-row (v10_chat_ctx_md5) without the JSON wrapper."""
    u = _namespaces(nodes, edges_rendered, chunks, F.col("render_text").alias("content"))
    k_map = {"entity": k_entities, "relation": k_relations, "text_chunk": k_chunks}
    hits = _namespace_topk(u, query, threshold, k_map).select(
        "item_id", "namespace", "content", "score", "rk"
    )
    if chunk_entity_links is not None:
        connected = expand_connected_chunks(hits, chunk_entity_links, k_connected)
        direct_ids = hits.where(F.col("namespace") == "text_chunk").select(
            F.col("item_id").alias("chunk_id"))
        extra = (
            connected.join(direct_ids, "chunk_id", "left_anti")
            .join(
                chunks.select(
                    F.col("chunk_id"), F.col("render_text").alias("content")),
                "chunk_id",
            )
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.orderBy(F.desc("relevance"), F.asc("chunk_id"))
                ) + F.lit(k_chunks),
            )
            .select(
                F.col("chunk_id").alias("item_id"),
                F.lit("text_chunk").alias("namespace"),
                "content",
                F.col("relevance").alias("score"),
                "rk",
            )
        )
        hits = hits.unionByName(extra)
    return hits.withColumn(
        "line",
        F.when(
            F.col("namespace") == "text_chunk",
            F.concat(
                F.lit("文本片段 "), F.col("rk").cast("string"), F.lit(": "),
                F.substring(F.col("content"), 1, 200), F.lit("..."),
            ),
        ),
    )


def render_rag_prompt(
    kg_context: str,
    text_content: str,
    history_messages: list | None = None,
    response_type: str = "text",
) -> str:
    """Driver-side prompt interpolation (chat_llm, knowledge_retriever.py:
    820-840): format RAG_SYS_PROMPT and append the text block when chunks
    were retrieved."""
    prompt = RAG_SYS_PROMPT.format(
        history=history_messages or [], kg_context=kg_context,
        response_type=response_type,
    )
    if text_content:
        prompt += f"\n\n相关文本内容:\n{text_content}"
    return prompt


def stub_chat_model(system_prompt: str, query: str) -> str:
    """Deterministic stand-in for the single driver-side LLM call."""
    import hashlib

    h = hashlib.md5((system_prompt + "|" + query).encode()).hexdigest()[:8]
    return f"[stub-answer {h}] {query}"


def chat(
    nodes: DataFrame,
    edges_rendered: DataFrame,
    chunks: DataFrame,
    query_vec: DataFrame,
    query_text: str,
    model=stub_chat_model,
    history_messages: list | None = None,
    **k,
) -> dict:
    """V10 (ChatKnowledgeRetriever.chat, knowledge_retriever.py:909-938):
    distributed retrieval + context assembly, then ONE model call. Returns
    the reference's response dict shape (minus timestamps)."""
    row = chat_context(nodes, edges_rendered, chunks, query_vec, **k).collect()
    if not row:
        return {"query": query_text, "answer": None, "kg_context": None}
    r = row[0]
    prompt = render_rag_prompt(r["kg_context"], r["text_content"], history_messages)
    return {
        "query": query_text,
        "kg_context": r["kg_context"],
        "n_entities": r["n_entities"],
        "n_relations": r["n_relations"],
        "n_chunks": r["n_chunks"],
        "answer": model(prompt, query_text),
    }
