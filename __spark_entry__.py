"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG build over sf0.001 documents.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB twins for every SQL-expressible query; keys absent
here are intentionally non-SQL (mapInPandas kernels, LSH, iterative loops)
and get the driver's rows-only check — their correctness gate is the
pytest parity suite against the actual reference code.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agraph_spark import patterns as P
from agraph_spark.operators import analytics as A
from agraph_spark.operators import components as CC
from agraph_spark.operators import dedup_docs as DD
from agraph_spark.operators import inference as I
from agraph_spark.operators import integrity as G
from agraph_spark.operators import textstats as TS
from agraph_spark.operators import vectors as V
from agraph_spark.operators.extraction import entity_confidence_col, keyword_counts
from agraph_spark.operators.relations import split_sentences
from agraph_spark.session import local_df as _local_df
from agraph_spark.pipeline import build_kg_from_texts
from agraph_spark.tpch_graph import GRAPH_SQL_CTE, build_graph

_SW = ", ".join(f"'{w}'" for w in P.STOPWORDS)

_REPO = os.path.dirname(os.path.abspath(__file__))
_SHIPPED: set[int] = set()


def _ensure_workers(spark: SparkSession) -> None:
    """Make agraph_spark importable on executors regardless of how the
    caller built its SparkSession (driver cwd / PYTHONPATH unknown):
    ship the package zip via addPyFile once per context."""
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    zip_path = os.path.join(_REPO, "dist", "agraph_spark.zip")
    try:
        import sys as _sys

        _sys.path.insert(0, os.path.join(_REPO, "scripts"))
        from make_pyfiles_zip import main as _mkzip

        zip_path = _mkzip()
    except Exception:
        pass
    if os.path.exists(zip_path):
        sc.addPyFile(zip_path)
    _SHIPPED.add(id(sc))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_workers(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("conv_id"), "text", "doc_id"
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG extraction over sf0.001 documents -> triple counts
    by predicate."""
    _ensure_workers(spark)
    docs = _docs(spark, "/root/testdata/sf0.001").select("conv_id", "text")
    triples = build_kg_from_texts(docs).triples
    return triples.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
    )


# ---------------------------------------------------------------- graph ops

def _graph_db_name(sf_dir: str) -> str:
    import re as _re

    return "graph_" + _re.sub(r"\W+", "_", sf_dir).strip("_")


_GRAPH_STORE_READY: set[tuple[int, str]] = set()


def _g(spark, sf_dir):
    """(nodes, edges) for the g_* family, served from the bucketed graph
    store (VERDICT r3 #6): the first g_* query of a session pays one
    build_graph + write_graph_bucketed into the session catalog; every
    subsequent graph query reads the bucketed tables instead of re-running
    the 4-table union build, and entity-keyed joins plan Exchange-free
    (io.py:55, plan-asserted in test_sources_sinks). Falls back to the
    direct build if the catalog/warehouse is unwritable."""
    from agraph_spark.io import read_graph_bucketed, write_graph_bucketed

    db = _graph_db_name(sf_dir)
    key = (id(spark.sparkContext), db)
    try:
        if key not in _GRAPH_STORE_READY:
            # Require BOTH tables before skipping the rebuild: a session
            # that died between the nodes and edges writes would otherwise
            # leave a half-store that every later session "sees" as ready,
            # then KeyErrors into the silent fallback forever (ADVICE r4).
            if not (spark.catalog.tableExists(f"{db}.nodes")
                    and spark.catalog.tableExists(f"{db}.edges")):
                nodes, edges = build_graph(spark, sf_dir)
                write_graph_bucketed(nodes, edges, db, n_buckets=16)
            _GRAPH_STORE_READY.add(key)
        t = read_graph_bucketed(spark, db)
        return t["nodes"], t["edges"]
    except Exception:
        import logging

        logging.getLogger(__name__).warning(
            "_g(%s): bucketed graph store unavailable, falling back to "
            "direct build (g_* joins will shuffle)", db, exc_info=True,
        )
        _GRAPH_STORE_READY.discard(key)
        return build_graph(spark, sf_dir)


def q_g_degree(spark, sf_dir):
    nodes, edges = _g(spark, sf_dir)
    return A.degree_per_node(nodes, edges)


def q_g_degree_summary(spark, sf_dir):
    nodes, edges = _g(spark, sf_dir)
    return A.degree_summary(nodes, edges)


def q_g_type_dist(spark, sf_dir):
    nodes, _ = _g(spark, sf_dir)
    return A.type_distribution(nodes)


def q_g_rel_type_dist(spark, sf_dir):
    _, edges = _g(spark, sf_dir)
    return A.relation_type_distribution(edges)


def q_g_isolated(spark, sf_dir):
    nodes, edges = _g(spark, sf_dir)
    return A.isolated_nodes(nodes, edges).select("entity_id")


def q_g_density(spark, sf_dir):
    nodes, edges = _g(spark, sf_dir)
    return A.density(nodes, edges)


def q_g_importance(spark, sf_dir):
    nodes, edges = _g(spark, sf_dir)
    return A.importance_scores(nodes, edges)


def q_g_top_central(spark, sf_dir):
    nodes, edges = _g(spark, sf_dir)
    return A.top_central(nodes, edges, k=5)


def q_g_transitive(spark, sf_dir):
    _, edges = _g(spark, sf_dir)
    return I.transitive_contains(edges)


def q_g_symmetric(spark, sf_dir):
    _, edges = _g(spark, sf_dir)
    return I.symmetric_closure(edges)


def q_g_reverse(spark, sf_dir):
    _, edges = _g(spark, sf_dir)
    return I.reverse_edges(edges)


def q_g_dangling(spark, sf_dir):
    nodes, edges = _g(spark, sf_dir)
    return G.dangling_edges(nodes, edges).select("edge_id", "dangling_side")


def q_g_dup_sig(spark, sf_dir):
    _, edges = _g(spark, sf_dir)
    return G.duplicate_edge_signature(edges)


def q_g_self_loops(spark, sf_dir):
    _, edges = _g(spark, sf_dir)
    return G.self_loops(edges).select("edge_id", "head_id")


def q_g_referential(spark, sf_dir):
    nodes, edges = _g(spark, sf_dir)
    return G.enforce_referential_integrity(nodes, edges).groupBy("pred").agg(
        F.count("*").alias("n_valid_edges")
    )


def q_g_components(spark, sf_dir):
    nodes, edges = _g(spark, sf_dir)
    return CC.connected_components(edges, nodes)


def q_g_component_sizes(spark, sf_dir):
    nodes, edges = _g(spark, sf_dir)
    return CC.component_sizes(CC.connected_components(edges, nodes))


def q_g_bfs(spark, sf_dir):
    _, edges = _g(spark, sf_dir)
    return CC.bfs_distances(edges, "R0", max_depth=5)


def q_g_khop(spark, sf_dir):
    _, edges = _g(spark, sf_dir)
    return A.k_hop_neighbors(edges, "R0", k=2)


def q_g_cycles(spark, sf_dir):
    _, edges = _g(spark, sf_dir)
    return CC.bounded_cycles(edges, max_len=5)


def q_g_stats(spark, sf_dir):
    nodes, edges = _g(spark, sf_dir)
    return G.basic_statistics(nodes, edges)


def q_g_consistency_report(spark, sf_dir):
    """Round 5: the reference's COMPOSITE consistency report
    (validate_graph_consistency, utils.py:400-466) certified as one
    (issue_type, item, n) frame — missing endpoints, duplicate
    signatures (count-1 per signature; dangling endpoints participate,
    as in the reference), self-loops."""
    nodes, edges = _g(spark, sf_dir)
    return G.consistency_issues(nodes, edges)


def q_g_metrics_report(spark, sf_dir):
    """Round 5: the reference's COMPOSITE network-metrics report
    (calculate_graph_metrics, utils.py:196-268) certified as one unit —
    basic stats, reference-exact total degree (self-loop counts once),
    2E/(N(N-1)) density, top-central, entity-only connectivity, and both
    type distributions as (metric, value) rows."""
    nodes, edges = _g(spark, sf_dir)
    return A.graph_metrics(nodes, edges)


def q_a13_summary(spark, sf_dir):
    """A13 summary report as (line_no, line) rows — the formatted string
    graph_summary() joins, certified line-by-line (VERDICT r3 #5)."""
    from agraph_spark.operators.graph_queries import graph_summary_lines

    nodes, edges = _g(spark, sf_dir)
    return graph_summary_lines(nodes, edges)


def q_g8_recommendations(spark, sf_dir):
    """G8 rule-based recommendations as (rec_idx, recommendation) rows —
    certifies the ratio bands (0.1/10) and issue-existence rules
    (graph_validator.py:385-423)."""
    from agraph_spark.operators.graph_queries import recommendations_df

    nodes, edges = _g(spark, sf_dir)
    return recommendations_df(nodes, edges)


# ------------------------------------------------------------- text-KG ops

def q_kg_keywords(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return keyword_counts(d, "doc_id").select("doc_id", "word", "cnt")


def q_kg_confidence(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = d.select(
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.col("text"), F.lit(r"\b[A-Za-z]{2,}\b"), 0)
            )
        ).alias("name")
    ).distinct()
    return toks.select(
        "name", F.round(entity_confidence_col("name"), 2).alias("confidence")
    )


def q_kg_sentences(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        split_sentences(d)
        .groupBy("conv_id")
        .agg(F.count("*").alias("n_sentences"))
        .select(F.col("conv_id").cast("bigint").alias("doc_id"), "n_sentences")
    )


_COOCCUR_ENTS = ["table", "query", "join", "index", "column", "spark"]


def q_kg_cooccur(spark, sf_dir):
    d = _docs(spark, sf_dir)
    sents = split_sentences(d)
    ents = _local_df(spark, [(e,) for e in _COOCCUR_ENTS], "ent string")
    hits = sents.crossJoin(F.broadcast(ents)).where(
        F.instr(F.col("sent"), F.col("ent")) > 0
    )
    a, b = hits.alias("a"), hits.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.conv_id") == F.col("b.conv_id"),
                F.col("a.sent_idx") == F.col("b.sent_idx"),
                F.col("a.ent") < F.col("b.ent"),
            ],
        )
        .select(
            F.col("a.conv_id").cast("bigint").alias("doc_id"),
            F.col("a.ent").alias("ent_a"),
            F.col("b.ent").alias("ent_b"),
        )
        .distinct()
    )


def q_kg_triples_docs(spark, sf_dir):
    """Full extraction pipeline on documents (non-SQL: mapInPandas kernels;
    parity gate is tests/test_parity_reference.py)."""
    d = _docs(spark, sf_dir).select("conv_id", "text")
    return build_kg_from_texts(d).triples


def q_kg_entities_docs(spark, sf_dir):
    """Per-document deduplicated entities, from the same fused kernel."""
    d = _docs(spark, sf_dir).select("conv_id", "text")
    return build_kg_from_texts(d).entities


# ------------------------------------------------------------ text hygiene

def q_txt_tokens(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        TS.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        TS.word_token_count(F.col("text")).cast("bigint").alias("n_word_tokens"),
    )


def q_txt_quality(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return TS.quality_score(d).select(
        "doc_id", "punct_ratio", "stopword_ratio", "quality"
    )


def q_txt_langid(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", TS.lang_id(F.col("text")).alias("lang"))


def q_txt_fingerprint(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", TS.fingerprint(F.col("text")).alias("fp"))


# ------------------------------------------------------------------- dedup

def q_dd_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return DD.exact_dup_groups(d)


def q_dd_ngram_jaccard(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return DD.ngram_jaccard_pairs(d, threshold=0.2, n=3)


def q_dd_minhash(spark, sf_dir):
    """MinHash-LSH near-dup candidates (non-SQL: xxhash64 signatures)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return DD.minhash_lsh_pairs(d, threshold=0.3)


def q_dd_minhash_md5(spark, sf_dir):
    """MinHash-LSH in the oracle-twinnable hash mode (VERDICT r2 #7):
    md5-derived 60-bit signature hashes and raw band-string buckets let
    DuckDB reproduce signatures, candidate buckets, and estimated Jaccard
    bit-for-bit. dd_minhash stays on the faster xxhash64 path."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return DD.minhash_lsh_pairs(
        d, num_hashes=16, bands=4, threshold=0.3, hash_mode="md5"
    )


def q_dd_simhash(spark, sf_dir):
    """SimHash near-dup pairs (non-SQL: bit-level ops on xxhash64)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return DD.simhash_near_pairs(d, max_hamming=8)


def q_dd_simhash_md5(spark, sf_dir):
    """SimHash in the oracle-twinnable hash mode: 60-bit md5-derived token
    hashes, 4x15-bit band blocking — DuckDB reproduces fingerprints,
    buckets, and Hamming distances exactly."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return DD.simhash_near_pairs(d, max_hamming=8, band_bits=15, hash_mode="md5")


def q_dd_exact_dup(spark, sf_dir):
    """Exact dedup exercised on a corpus with guaranteed duplicates (each
    doc unioned once under a shifted id)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return DD.exact_dup_groups(d.unionByName(dup))


def q_ev_window(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts").cast("timestamp")).cast("timestamp_ntz").alias("hour"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_tpch_join3(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


# ----------------------------------------------------------------- vectors

def q_v_cosine(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    scored = V.cosine_scores(emb, q)
    return (
        scored.withColumn("score", F.round("score", 3))
        .where(F.col("score") >= 0.105)
        .select("vec_id", "score")
    )


def q_v_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN (non-SQL: seeded hyperplanes)."""
    import numpy as np

    emb = _emb(spark, sf_dir)
    rng = np.random.default_rng(7)
    planes = rng.standard_normal((4, 64)).tolist()
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    return V.ann_topk_lsh(emb, q, planes, k=20).select("vec_id", F.round("score", 3).alias("score"))


def _ivf_fixed(spark, sf_dir):
    """(assigned, centroids, query_vec) with DETERMINISTIC centroids (the
    embeddings of vec_id 0..15) so the whole IVF path is oracle-twinnable;
    the KMeans fit (ivf_index) stays the production trainer."""
    emb = _emb(spark, sf_dir)
    cent_rows = emb.where(F.col("vec_id") < 16).orderBy("vec_id").collect()
    centroids = [[float(x) for x in r.embedding] for r in cent_rows]
    qvec = centroids[0]
    return V.ivf_assign(emb, centroids), centroids, qvec


def q_v_ann_ivf(spark, sf_dir):
    """Round 5: IVF ANN oracle-certified end-to-end (was test-only) —
    fixed-centroid assignment (ivf_assign, squared-L2 argmin in column
    exprs) + 2-probe in-bucket cosine rerank (ivf_topk). The oracle
    recomputes assignment, probe choice, and rerank in DuckDB; a wrong
    centroid on any candidate or a probe mismatch breaks the hash."""
    assigned, centroids, qvec = _ivf_fixed(spark, sf_dir)
    out = V.ivf_topk(assigned, centroids, qvec, k=15, n_probe=2)
    return out.select("vec_id", "centroid", F.round("score", 3).alias("score"))


def q_v_ann_ivf_hist(spark, sf_dir):
    """Round 5: the FULL IVF assignment table certified (not just the
    top-k sample) — per-centroid vector counts over every embedding."""
    assigned, _, _ = _ivf_fixed(spark, sf_dir)
    return assigned.groupBy("centroid").agg(F.count("*").alias("n")) \
        .select(F.col("centroid").cast("int").alias("centroid"), "n")


def q_v_label_pairs(spark, sf_dir):
    # norms hoisted to one per vector (V.cosine_hoisted): HOF folds are
    # interpreted, so per-pair work is the single dot fold — 6.1 -> 2.2 s
    # on 200k pairs, raw-double-identical scores (r6c)
    emb = _emb(spark, sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    emb = emb.withColumn("nrm", V.norm(F.col("v")))
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, on=[F.col("a.label") == F.col("b.label"), F.col("a.vec_id") < F.col("b.vec_id")])
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                V.cosine_hoisted(
                    F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")
                ),
                3,
            ).alias("score"),
        )
        .where(F.col("score") >= 0.5)
    )


# ------------------------------------------------------------------ events

def q_ev_sessionize(spark, sf_dir):
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet stores TIMESTAMP_NTZ; cast to TIMESTAMP (session tz = UTC)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    gap_us = ts_us - prev_us
    flagged = ev.withColumn(
        "new_sess", F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_ev_reassemble(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("seq_str")
    )


def q_kg_chunks(spark, sf_dir):
    from agraph_spark.operators.chunking import chunk_documents

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("string").alias("conv_id"), "text")
    ch = chunk_documents(d, chunk_size=64, overlap=16)
    return ch.groupBy(F.col("conv_id").cast("bigint").alias("doc_id")).agg(
        F.count("*").alias("n_chunks"),
        F.max("end_index").cast("bigint").alias("n_words"),
    )


def q_kg_search_multi(spark, sf_dir):
    """V8 union-pass retrieval over hash-stub embeddings (non-SQL)."""
    from agraph_spark.operators.retrieval import search_knowledge
    from agraph_spark.operators.vectors import embed_hash_stub

    d = _docs(spark, sf_dir)
    chunks = embed_hash_stub(d.select(F.col("conv_id").alias("chunk_id"),
                                      F.col("text").alias("render_text")))
    nodes = embed_hash_stub(
        d.select(F.concat(F.lit("e"), "conv_id").alias("entity_id"),
                 F.substring("text", 1, 40).alias("render_text")))
    edges = embed_hash_stub(
        d.select(F.concat(F.lit("r"), "conv_id").alias("edge_id"),
                 F.substring("text", 20, 40).alias("render_text")))
    q = embed_hash_stub(
        _local_df(spark, [("table join query",)], "render_text string")
    ).select(F.col("embedding").alias("query_vec"))
    out = search_knowledge(nodes, edges, chunks, q, k=5, threshold=-1.0)
    return out.select("item_id", "namespace", F.round("score", 3).alias("score"))


def q_kg_search_multi_md5(spark, sf_dir):
    """V8 union-pass retrieval over md5-stub embeddings — the
    oracle-twinnable variant of kg_search_multi: DuckDB reproduces the
    stub embedding components, cosine scores, and per-namespace top-k."""
    from agraph_spark.operators.retrieval import search_knowledge
    from agraph_spark.operators.vectors import embed_md5_stub

    d = _docs(spark, sf_dir)
    chunks = embed_md5_stub(d.select(F.col("conv_id").alias("chunk_id"),
                                     F.col("text").alias("render_text")))
    nodes = embed_md5_stub(
        d.select(F.concat(F.lit("e"), "conv_id").alias("entity_id"),
                 F.substring("text", 1, 40).alias("render_text")))
    edges = embed_md5_stub(
        d.select(F.concat(F.lit("r"), "conv_id").alias("edge_id"),
                 F.substring("text", 20, 40).alias("render_text")))
    q = embed_md5_stub(
        _local_df(spark, [("table join query",)], "render_text string")
    ).select(F.col("embedding").alias("query_vec"))
    out = search_knowledge(nodes, edges, chunks, q, k=5, threshold=-1.0)
    return out.select("item_id", "namespace", F.round("score", 3).alias("score"))


def q_v11_search_modes(spark, sf_dir):
    """Native LightRAG-style hybrid search (lightrag_builder.py:313-362)
    over md5-stub embeddings with deterministic structural edges/links —
    local (entity-seeded) ∪ global (relation-seeded) with per-item best
    score, fully DuckDB-twinnable."""
    from agraph_spark.operators.retrieval import search_graph_modes
    from agraph_spark.operators.vectors import embed_md5_stub

    d = _docs(spark, sf_dir)
    nodes = embed_md5_stub(
        d.select(F.concat(F.lit("e"), "conv_id").alias("entity_id"),
                 F.substring("text", 1, 40).alias("render_text")))
    edges = embed_md5_stub(
        d.select(F.concat(F.lit("r"), "conv_id").alias("edge_id"),
                 F.concat(F.lit("e"), "conv_id").alias("head_id"),
                 F.concat(F.lit("e"), (F.col("doc_id") % 50).cast("string")).alias("tail_id"),
                 F.substring("text", 20, 40).alias("render_text")))
    chunks = embed_md5_stub(
        d.select(F.col("conv_id").alias("chunk_id"),
                 F.col("text").alias("render_text")))
    links = d.select(
        F.col("conv_id").alias("chunk_id"),
        F.concat(F.lit("e"), ((F.col("doc_id") * 3) % 100).cast("string")).alias("entity_id"))
    q = embed_md5_stub(
        _local_df(spark, [("table join query",)], "render_text string")
    ).select(F.col("embedding").alias("query_vec"))
    out = search_graph_modes(nodes, edges, chunks, q, mode="hybrid", k=5,
                             chunk_entity_links=links, threshold=-1.0)
    return out.select("item_id", "namespace",
                      F.round("score", 3).alias("score"), "origin")


# ------------------------------------------------------------ TPC-H sanity

def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_seg_month(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", F.month("o_orderdate").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_f1_entity_filter(spark, sf_dir):
    from agraph_spark.operators.graph_queries import query_entities

    nodes, _ = _g(spark, sf_dir)
    return query_entities(
        nodes, entity_type="supplier", name_contains="supplier#00000000",
        min_confidence=0.85, limit=100,
    ).select("entity_id", "name")


def q_d9_upsert(spark, sf_dir):
    from agraph_spark.operators.graph_queries import upsert_nodes

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    base = c.select(
        F.concat(F.lit("E"), F.col("c_custkey").cast("string")).alias("entity_id"),
        F.col("c_name").alias("name"),
        F.lower("c_name").alias("name_norm"),
        F.lit("customer").alias("entity_type"),
        F.lit(0.5).alias("confidence"),
        F.array().cast("array<string>").alias("aliases"),
        F.lit(1).cast("long").alias("n_mentions"),
    )
    existing = base.where(F.col("entity_id").substr(2, 99).cast("long") % 2 == 0)
    batch = base.where(F.col("entity_id").substr(2, 99).cast("long") % 3 == 0) \
        .withColumn("entity_id", F.concat(F.lit("B"), F.col("entity_id").substr(2, 99))) \
        .withColumn("confidence", F.lit(0.9))
    return upsert_nodes(existing, batch).select(
        "entity_id", "name_norm", "confidence", "n_mentions"
    )


def q_db_schema(spark, sf_dir):
    """S3/E10/E11 over a fixed catalog dict (non-SQL: driver-side flatten)."""
    from agraph_spark.operators.db_schema import (
        catalog_from_dict,
        extract_db_entities,
        extract_db_relations,
    )

    schema = {
        "database_name": "shopdb",
        "tables": [
            {"name": "tbl_users", "columns": [{"name": "id"}, {"name": "email"}]},
            {"name": "tb_orders", "columns": [
                {"name": "id"},
                {"name": "user_id", "foreign_key": {"table": "tbl_users", "column": "id"}},
            ]},
        ],
    }
    cat = catalog_from_dict(spark, schema)
    ents = extract_db_entities(cat).select(
        F.col("name").alias("item"), F.col("entity_type").alias("kind"))
    rels = extract_db_relations(cat).select(
        F.concat_ws("->", "head_name", "tail_name").alias("item"),
        F.col("pred").alias("kind"))
    return ents.unionByName(rels)


def q_a14_chunk_sim(spark, sf_dir):
    """A14 chunk similarity over deterministic link arrays derived from
    doc_id (selective buckets: each synthetic entity links ~n/97 chunks).
    Exercises the inverted-index equi-join plan — no cartesian anywhere."""
    from agraph_spark.operators.graph_queries import chunk_similarity

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    links = d.select(
        F.concat(F.lit("c"), F.col("doc_id").cast("string")).alias("chunk_id"),
        F.array(
            F.concat(F.lit("e"), (F.col("doc_id") % 97).cast("string")),
            F.concat(F.lit("f"), (F.col("doc_id") % 89).cast("string")),
        ).alias("entity_ids"),
        F.array(
            F.concat(F.lit("r"), (F.col("doc_id") % 7).cast("string")),
            F.concat(F.lit("s"), (F.col("doc_id") % 11).cast("string")),
        ).alias("relation_ids"),
    )
    return chunk_similarity(links)


def q_g_hierarchical(spark, sf_dir):
    """I3 hierarchical inference: organization parents (supplier-name
    prefixes) containing person children (full supplier names)."""
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    prefix = F.expr("substring(s_name, 1, length(s_name) - 1)")
    parents = s.select(
        F.concat(F.lit("P"), prefix).alias("entity_id"),
        prefix.alias("name"),
        F.lit("organization").alias("entity_type"),
    ).distinct()
    children = s.select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("entity_id"),
        F.col("s_name").alias("name"),
        F.lit("person").alias("entity_type"),
    )
    return I.hierarchical_inference(parents.unionByName(children))


def q_g_low_confidence(spark, sf_dir):
    nodes, edges = _g(spark, sf_dir)
    return G.low_confidence(nodes, edges, threshold=0.85)


def q_g_empty_names(spark, sf_dir):
    nodes, _ = _g(spark, sf_dir)
    bad = _local_df(spark,
        [("X1", "  ", "blank", 0.5)],
        "entity_id string, name string, entity_type string, confidence double",
    )
    return G.empty_names(nodes.unionByName(bad)).select("entity_id", "entity_type")


def q_g_all_paths(spark, sf_dir):
    """A10: every simple path R0 -> (min supplier in region 0), depth <= 3."""
    from agraph_spark.operators.graph_queries import all_paths

    _, edges = _g(spark, sf_dir)
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    target_key = (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_regionkey") == 0)
        .agg(F.min("s_suppkey"))
        .collect()[0][0]
    )
    out = all_paths(edges, "R0", f"S{target_key}", max_depth=3)
    return out.select(F.concat_ws("->", "path").alias("path"), "depth")


def q_g_paths_typed(spark, sf_dir):
    """Round 5: A10 typed variant (find_paths_with_relation_type,
    graph_path_finder.py:157-222) — every simple 'contains'-only path
    R0 -> (min supplier in region 0), depth <= 3. The belongs_to /
    similar_to edges that all_paths would traverse are excluded by the
    pushed-down pred filter."""
    from agraph_spark.operators.graph_queries import paths_with_relation_type

    _, edges = _g(spark, sf_dir)
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    target_key = (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_regionkey") == 0)
        .agg(F.min("s_suppkey"))
        .collect()[0][0]
    )
    out = paths_with_relation_type(edges, "R0", f"S{target_key}", "contains", max_depth=3)
    return out.select(F.concat_ws("->", "path").alias("path"), "depth")


def q_d6_repoint(spark, sf_dir):
    """D6 edge repoint (entity_merger.py:118-147): suppliers divisible by 3
    merge into their nation; both FK columns of every edge follow the
    mapping. Full post-repoint edge rows hash-matched."""
    from agraph_spark.operators.linking import repoint_edges

    _, edges = _g(spark, sf_dir)
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    mapping = sup.where(F.col("s_suppkey") % 3 == 0).select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("entity_id"),
        F.concat(F.lit("N"), F.col("s_nationkey").cast("string")).alias("canonical_id"),
    )
    return repoint_edges(edges, mapping).select(
        "head_id", "tail_id", "pred", F.round("confidence", 3).alias("confidence"),
        "source")


def q_g2_cascade(spark, sf_dir):
    """G2 cascading delete (graph.py:109-138): removing every 5th nation
    drops all incident edges; surviving edge rows hash-matched."""
    from agraph_spark.operators.integrity import cascade_delete_entities

    _, edges = _g(spark, sf_dir)
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    deleted = nat.where(F.col("n_nationkey") % 5 == 0).select(
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("entity_id"))
    return cascade_delete_entities(edges, deleted).select(
        "head_id", "tail_id", "pred", F.round("confidence", 3).alias("confidence"),
        "source")


def q_d10_merge(spark, sf_dir):
    """D10 graph merging (mixins.py:42-96): the tpch graph unioned with a
    second graph whose nations carry different ids but identical names —
    alignment by normalized name, survivor = min entity_id, merged node
    keeps the max-confidence representative and sums mentions."""
    from agraph_spark.operators.graph_queries import merge_graphs

    nodes, edges = _g(spark, sf_dir)
    nodes = nodes.withColumn("name_norm", F.lower("name")) \
        .withColumn("aliases", F.lit(None).cast("array<string>")) \
        .withColumn("n_mentions", F.lit(None).cast("bigint"))
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nodes_b = nat.select(
        F.concat(F.lit("M"), F.col("n_nationkey").cast("string")).alias("entity_id"),
        F.col("n_name").alias("name"),
        F.lit("nation").alias("entity_type"),
        F.lit(0.95).alias("confidence"),
        F.lower("n_name").alias("name_norm"),
        F.lit(None).cast("array<string>").alias("aliases"),
        F.lit(None).cast("bigint").alias("n_mentions"),
    )
    edges_b = nat.select(
        F.concat(F.lit("M"), F.col("n_nationkey").cast("string")).alias("head_id"),
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("tail_id"),
        F.lit("located_in").alias("pred"),
        F.lit(0.95).alias("confidence"),
        F.lit("b").alias("source"),
    )
    mn, me = merge_graphs([nodes, nodes_b], [edges, edges_b])
    return mn.select("entity_id", "name", "entity_type",
                     F.round("confidence", 3).alias("confidence"), "n_mentions")


_G3_NAMES = ["spark", "graph", "entity", "join", "table"]


def q_g3_links(spark, sf_dir):
    """G3 chunk→entity linking (llm_builders.py:770-812): documents as
    chunks, a literal name list as the per-conversation entity set;
    substring containment inside the conv_id equi-join."""
    from agraph_spark.operators.chunking import link_chunks_to_entities

    d = _docs(spark, sf_dir)
    chunks = d.select(F.col("conv_id").alias("chunk_id"), "conv_id",
                      F.col("text").alias("content"))
    names = _local_df(spark, [(w,) for w in _G3_NAMES], "name_norm string")
    ents = d.select("conv_id").crossJoin(F.broadcast(names))
    return link_chunks_to_entities(chunks, ents)


def q_g3_rel_links(spark, sf_dir):
    """G3 relation side (llm_builders.py:795-806): a chunk links to a
    relation only when BOTH endpoint names are contained — two semi-joins
    against the chunk-entity link table."""
    from agraph_spark.operators.chunking import (
        link_chunks_to_entities, link_chunks_to_relations)

    d = _docs(spark, sf_dir)
    chunks = d.select(F.col("conv_id").alias("chunk_id"), "conv_id",
                      F.col("text").alias("content"))
    names = _local_df(spark, [(w,) for w in _G3_NAMES], "name_norm string")
    ents = d.select("conv_id").crossJoin(F.broadcast(names))
    links = link_chunks_to_entities(chunks, ents)
    trips = _local_df(spark,
        [("g", "spark", "uses", "table"), ("g", "graph", "links", "entity")],
        "conv_id string, subj string, pred string, obj string")
    return link_chunks_to_relations(links, trips)


def q_g_paths_multi(spark, sf_dir):
    """A10 hardened (VERDICT r2 #6): simple paths R0 -> EVERY supplier in
    region 0 — the target set arrives as a semi-joined DataFrame, no scalar
    collect; proves the operator, not just one path."""
    from agraph_spark.operators.graph_queries import all_paths_multi

    _, edges = _g(spark, sf_dir)
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    targets = (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_regionkey") == 0)
        .select(F.concat(F.lit("S"), F.col("s_suppkey")).alias("entity_id"))
    )
    out = all_paths_multi(edges, "R0", targets, max_depth=3)
    return out.select("target", F.concat_ws("->", "path").alias("path"), "depth")


def q_v_hybrid(spark, sf_dir):
    """V6 hybrid text+vector search over documents joined to embeddings."""
    from agraph_spark.operators.retrieval import hybrid_search_chunks

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    e = _emb(spark, sf_dir)
    chunks = d.join(e, F.col("doc_id") == F.col("vec_id")).select(
        F.concat(F.lit("c"), F.col("doc_id").cast("string")).alias("chunk_id"),
        F.col("text").alias("content"),
        F.lit(None).cast("string").alias("title"),
        "embedding",
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    # r6c correctness fix: the certified result ranks by the 3-decimal
    # DISPLAY score (see _display_topk) — the operator's reference-faithful
    # 9-decimal internal ordering picked a different member of a 3dp tie
    # group straddling the k boundary on this round's corpus (c291 vs
    # c1835, both 0.461). Score the full chunk set (uncut, unsorted), then
    # cut at display precision with the chunk_id tie-break: one sort.
    out = hybrid_search_chunks(
        chunks, "table join query", q, k=None,
        text_weight=0.25, vector_weight=0.75,
    )
    return _display_topk(out, 10, score_col="hybrid_score", id_col="chunk_id")


def q_v10_chat_ctx(spark, sf_dir):
    """V10 RAG context assembly (non-SQL: hash-stub embeddings). One row:
    the JSON kg_context + per-namespace hit counts."""
    from agraph_spark.operators.retrieval import chat_context
    from agraph_spark.operators.vectors import embed_hash_stub

    d = _docs(spark, sf_dir)
    chunks = embed_hash_stub(
        d.select(F.col("conv_id").alias("chunk_id"), F.col("text").alias("render_text")))
    nodes = embed_hash_stub(
        d.select(F.concat(F.lit("e"), "conv_id").alias("entity_id"),
                 F.substring("text", 1, 40).alias("render_text")))
    edges = embed_hash_stub(
        d.select(F.concat(F.lit("r"), "conv_id").alias("edge_id"),
                 F.substring("text", 20, 40).alias("render_text")))
    q = embed_hash_stub(
        _local_df(spark, [("table join query",)], "render_text string")
    ).select(F.col("embedding").alias("query_vec"))
    out = chat_context(nodes, edges, chunks, q, k_entities=5, k_relations=5,
                       k_chunks=5, threshold=-1.0)
    return out.select(
        F.length("kg_context").alias("ctx_len"),
        "n_entities", "n_relations", "n_chunks",
    )


def q_v10_chat_ctx_md5(spark, sf_dir):
    """V10 context assembly, oracle-certified (VERDICT r3 #3): the per-hit
    table chat_context builds its JSON from — per-namespace DISTINCT k
    (4/3/6), the score threshold, and the reference's rendered 文本片段
    line — over md5-stub embeddings DuckDB reproduces bit-for-bit. The
    JSON wrapper itself stays string-tested (test_retrieval); the xxhash64
    production path stays rows-only as v10_chat_ctx."""
    from agraph_spark.operators.retrieval import chat_context_hits
    from agraph_spark.operators.vectors import embed_md5_stub

    d = _docs(spark, sf_dir)
    chunks = embed_md5_stub(d.select(F.col("conv_id").alias("chunk_id"),
                                     F.col("text").alias("render_text")))
    nodes = embed_md5_stub(
        d.select(F.concat(F.lit("e"), "conv_id").alias("entity_id"),
                 F.substring("text", 1, 40).alias("render_text")))
    edges = embed_md5_stub(
        d.select(F.concat(F.lit("r"), "conv_id").alias("edge_id"),
                 F.substring("text", 20, 40).alias("render_text")))
    q = embed_md5_stub(
        _local_df(spark, [("table join query",)], "render_text string")
    ).select(F.col("embedding").alias("query_vec"))
    hits = chat_context_hits(nodes, edges, chunks, q, k_entities=4,
                             k_relations=3, k_chunks=6, threshold=0.05)
    return hits.select(
        "namespace", "rk", "item_id", F.round("score", 3).alias("score"), "line"
    )


def _f6_turns(spark, sf_dir):
    """Deterministic transcript synthesis for the F6 stream queries: 50
    docs -> 3 turns each, turn text = first 30 space-separated tokens of a
    200-char slice (every expression SQL-twinnable)."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 50)
    turns = None
    for i in range(3):
        t = d.select(
            F.concat(F.lit("c"), F.col("doc_id").cast("string")).alias("conv_id"),
            F.lit(i).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.substring_index(F.substring("text", i * 200 + 1, 200), " ", 30).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        turns = t if turns is None else turns.unionByName(t)
    return turns


def _f6_run_stream(spark, turns, triples_fn=None):
    """Two trigger-once drains with a re-sent conversation (idempotent
    MERGE proof); returns the final merged store as a list of Rows."""
    import shutil
    import tempfile

    from agraph_spark.streaming.incremental import start_transcript_merge_stream

    work = tempfile.mkdtemp(prefix="f6_stream_")
    try:
        inp = os.path.join(work, "in")
        out = os.path.join(work, "out")
        turns.where(F.col("conv_id") < "c25").write.mode("append").parquet(inp)
        start_transcript_merge_stream(
            spark, inp, out, n_buckets=8, triples_fn=triples_fn
        ).awaitTermination(300)
        # second drain: the rest PLUS a re-send of c1 (idempotent MERGE)
        turns.where((F.col("conv_id") >= "c25") | (F.col("conv_id") == "c1")) \
            .write.mode("append").parquet(inp)
        start_transcript_merge_stream(
            spark, inp, out, n_buckets=8, triples_fn=triples_fn
        ).awaitTermination(300)
        stored = spark.read.parquet(os.path.join(out, "triples_store"))
        return stored.drop("bucket").collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_f6_stream_merge(spark, sf_dir):
    """F6/D8 driver-visible: a real readStream → foreachBatch(batch
    pipeline) → bucket-MERGE loop over transcripts synthesized
    deterministically from the documents table (50 docs → 3 turns each),
    drained in two trigger-once passes with a re-sent conversation to
    prove idempotency. Rows-only by declared necessity — the extraction
    kernel is the same non-SQL regex engine as kg_triples_docs; the
    stream-equals-batch property is pytest-certified
    (test_merge_stream_equals_batch_and_is_idempotent)."""
    rows = _f6_run_stream(spark, _f6_turns(spark, sf_dir))
    agg: dict[str, list] = {}
    for r in rows:
        a = agg.setdefault(r.pred, [0, set(), set()])
        a[0] += 1
        a[1].add(r.conv_id)
        a[2].add(r.subj)
    return _local_df(spark,
        sorted((p, n, len(cs), len(ss)) for p, (n, cs, ss) in agg.items()),
        "pred string, n_triples long, n_convs long, n_subjects long",
    )


def q_f6_stream_merge_md5(spark, sf_dir):
    """Round 5 (VERDICT r4 #5): the streaming MERGE machinery
    oracle-certified. Same readStream → foreachBatch → bucket-MERGE loop,
    two drains, re-sent c1 — but the per-batch extraction is an
    SQL-expressible transform (one triple per turn, obj = md5(turn
    text)), so DuckDB can recompute the expected FINAL merged state from
    the documents table with batch semantics. Any machinery bug —
    dropped bucket on overwrite, double-applied batch, non-idempotent
    re-send (c1 would duplicate), missed drain — breaks the hash. The
    regex-pipeline variant (f6_stream_merge) stays rows-only as
    declared; lineage is excluded here because batch-id assignment
    depends on file-trigger splits."""
    def toy_triples(batch):
        return batch.select(
            "conv_id",
            F.col("conv_id").alias("subj"),
            F.concat(F.lit("p"), F.col("turn_idx").cast("string")).alias("pred"),
            F.md5("text").alias("obj"),
            F.round(F.lit(0.5) + F.col("turn_idx") * 0.1, 1).alias("conf"),
        )

    rows = _f6_run_stream(spark, _f6_turns(spark, sf_dir), triples_fn=toy_triples)
    return _local_df(spark,
        [(r.conv_id, r.subj, r.pred, r.obj, r.conf) for r in rows],
        "conv_id string, subj string, pred string, obj string, conf double",
    ).select("conv_id", "subj", "pred", "obj", F.round("conf", 1).alias("conf"))


def q_v1_render(spark, sf_dir):
    """V1 embedding-text rendering (entity/relation/chunk forms,
    graph_embedding.py:345-548) oracle-certified string-exact over fixtures
    that exercise every branch: empty/NULL descriptions, NULL/empty alias
    arrays, missing endpoints (bare-pred fallback), default chunk_type,
    single-entry metadata maps (single so map order can't diverge)."""
    from agraph_spark.operators.vectors import (
        render_chunk_text, render_entity_text, render_relation_text)

    d = _docs(spark, sf_dir)
    key = F.col("doc_id")
    ents = d.select(
        F.concat(F.lit("e"), key.cast("string")).alias("entity_id"),
        F.substring("text", 1, 20).alias("name"),
        F.when(key % 3 == 0, F.lit(None).cast("string"))
         .when(key % 3 == 1, F.lit(""))
         .otherwise(F.substring("text", 25, 20)).alias("description"),
        F.when(key % 4 == 0, F.array(F.concat(F.lit("a"), key.cast("string")),
                                     F.concat(F.lit("b"), key.cast("string"))))
         .when(key % 4 == 1, F.array().cast("array<string>"))
         .otherwise(F.lit(None).cast("array<string>")).alias("aliases"),
    )
    rels = d.select(
        F.concat(F.lit("r"), key.cast("string")).alias("edge_id"),
        F.when(key % 5 != 0, F.concat(F.lit("h"), key.cast("string"))).alias("head_name"),
        F.when(key % 7 != 0, F.concat(F.lit("t"), key.cast("string"))).alias("tail_name"),
        F.lit("related_to").alias("pred"),
        F.when(key % 2 == 0, F.substring("text", 40, 15)).alias("description"),
    )
    chunks = d.select(
        F.concat(F.lit("c"), key.cast("string")).alias("chunk_id"),
        F.when(key % 3 == 0, F.concat(F.lit("T"), key.cast("string"))).alias("title"),
        F.substring("text", 1, 50).alias("content"),
        F.when(key % 2 == 0, F.concat(F.lit("src"), key.cast("string")))
         .otherwise(F.lit("")).alias("source"),
        F.when(key % 5 != 0, F.lit("chunk")).alias("chunk_type"),
        F.when(key % 4 == 0,
               F.create_map(F.lit("k1"), F.concat(F.lit("v"), key.cast("string"))))
         .alias("metadata"),
    )
    return (
        render_entity_text(ents).select(
            F.col("entity_id").alias("item_id"), F.lit("entity").alias("kind"),
            "render_text")
        .unionByName(render_relation_text(rels).select(
            F.col("edge_id").alias("item_id"), F.lit("relation").alias("kind"),
            "render_text"))
        .unionByName(render_chunk_text(chunks).select(
            F.col("chunk_id").alias("item_id"), F.lit("chunk").alias("kind"),
            "render_text"))
    )


def q_s7_exports(spark, sf_dir):
    """S7/S8 export formats oracle-certified: md5 of the EXACT GraphML /
    Cytoscape / D3 / JSON-lines document strings the export operators
    assemble over a deterministically-ordered 50-node/50-edge slice of the
    TPC-H graph (exports collect driver-side by design — display surface,
    SURVEY S7 — so the query wraps the one-row digest)."""
    import hashlib

    from agraph_spark.io import export_cytoscape, export_d3, export_graphml

    nodes, edges = _g(spark, sf_dir)
    n50 = nodes.orderBy("entity_id").limit(50)
    # full-row ordering: (head, tail, pred) can tie across sources, and a
    # tie on every exported field is output-identical anyway
    e50 = edges.orderBy("head_id", "tail_id", "pred", "confidence", "source").limit(50)
    gml = export_graphml(n50, e50)
    cyto = export_cytoscape(n50, e50)
    d3 = export_d3(n50, e50)
    md5 = lambda s: hashlib.md5(s.encode("utf-8")).hexdigest()
    return _local_df(spark,
        [(md5(gml), len(gml), md5(cyto), len(cyto), md5(d3), len(d3))],
        "graphml_md5 string, graphml_len long, cyto_md5 string, "
        "cyto_len long, d3_md5 string, d3_len long",
    )


def q_s4_graphml_import(spark, sf_dir):
    """S4 GraphML source oracle-certified: import a fixed document through
    import_graphml (driver-side ElementTree parse — interchange-scale by
    design) incl. XML entity unescaping and the d0-d3 key layout; VALUES
    oracle. The fixture is independent of sf_dir (source-format parsing
    has no scale axis)."""
    from agraph_spark.io import import_graphml

    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">'
        '<graph edgedefault="directed">'
        '<node id="n1"><data key="d0">Acme &amp; Sons &lt;Ltd&gt;</data>'
        '<data key="d1">org</data></node>'
        '<node id="n2"><data key="d0">Bob</data><data key="d1">person</data></node>'
        '<node id="n3"><data key="d0"></data></node>'
        '<edge source="n2" target="n1"><data key="d2">works_for</data>'
        '<data key="d3">0.9</data></edge>'
        '<edge source="n1" target="n3"></edge>'
        "</graph></graphml>"
    )
    nodes, edges = import_graphml(spark, xml)
    n = nodes.select(
        F.col("entity_id").alias("item_id"), F.lit("node").alias("kind"),
        F.col("name").alias("a"), F.col("entity_type").alias("b"),
        F.lit(None).cast("double").alias("conf"))
    e = edges.select(
        F.concat("head_id", F.lit("->"), "tail_id").alias("item_id"),
        F.lit("edge").alias("kind"), F.col("pred").alias("a"),
        F.lit(None).cast("string").alias("b"), F.col("confidence").alias("conf"))
    return n.unionByName(e)


def q_s5_store_roundtrip(spark, sf_dir):
    """S5 graph sink/source oracle-certified: write a deterministic graph
    slice with write_graph, read it back with read_graph, and return the
    read-back edge rows — any round-trip value/type corruption breaks the
    hash against the source CTE."""
    import shutil
    import tempfile

    from agraph_spark.io import read_graph, write_graph

    nodes, edges = _g(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="s5_store_")
    try:
        write_graph(nodes, edges, work)
        t = read_graph(spark, work)
        n_nodes = t["nodes"].count()
        # collect before the temp store is deleted (the returned frame must
        # not reference removed files); bounded — the gate runs at sf0.01
        # and the TPC-H graph's edge count is ~2k there
        out = t["edges"].select(
            "head_id", "tail_id", "pred",
            F.col("confidence").cast("double").alias("confidence"), "source",
        ).withColumn("n_nodes", F.lit(n_nodes).cast("long")).collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return _local_df(spark,
        [tuple(r) for r in out], "head_id string, tail_id string, pred string, confidence double, "
             "source string, n_nodes long")


def q_mm_features(spark, sf_dir):
    """Multimodal decode + pooled features oracle-certified end-to-end:
    deterministic P5 (netpbm grayscale) blobs built per doc_id, decoded by
    the REAL _decode_ppm parser inside the batched mapInPandas kernel,
    mean-pooled to 16 dims — the oracle recomputes the pooled means from
    the pixel formula directly, so any decode/pooling bug breaks the hash
    (float32 kernel vs float64 SQL absorbed by round-to-4)."""
    from agraph_spark.operators.multimodal import extract_media_features

    rows = []
    for doc_id in range(40):
        pixels = bytes((doc_id * 7 + i * 13) % 256 for i in range(64))
        rows.append((f"m{doc_id}", bytearray(b"P5\n8 8\n255\n" + pixels)))
    media = _local_df(spark, rows, "media_id string, content binary")
    feats = extract_media_features(media, out_dim=16)
    return feats.select(
        "media_id", "n_bytes",
        F.posexplode("feature").alias("dim", "v"),
    ).select("media_id", "n_bytes", "dim",
             F.round(F.col("v").cast("double"), 4).alias("v"))


def q_mm_png(spark, sf_dir):
    """Round 5: the REAL stdlib PNG decoder (zlib inflate + per-scanline
    unfilter) oracle-certified end-to-end. Same pixel formula as
    mm_features, but each 8x8 graymap is round-tripped through encode_png
    with filter_type = doc % 5 — all five PNG filters (None/Sub/Up/
    Average/Paeth) must invert exactly or the pooled means (and the hash)
    break. The oracle recomputes the means from the formula; n_bytes is
    omitted (zlib stream length is not SQL-expressible)."""
    import numpy as np

    from agraph_spark.operators.multimodal import encode_png, extract_media_features

    rows = []
    for doc_id in range(40):
        pixels = np.frombuffer(
            bytes((doc_id * 7 + i * 13) % 256 for i in range(64)), dtype=np.uint8
        ).reshape(8, 8)
        blob = encode_png(pixels, filter_type=doc_id % 5)
        rows.append((f"m{doc_id}", bytearray(blob)))
    media = _local_df(spark, rows, "media_id string, content binary")
    feats = extract_media_features(media, out_dim=16)
    return feats.select(
        "media_id", F.posexplode("feature").alias("dim", "v"),
    ).select("media_id", "dim", F.round(F.col("v").cast("double"), 4).alias("v"))


def _display_topk(df, k, score_col="score", id_col="vec_id", nd=3):
    """r6c correctness helper: top-k cut at the certified DISPLAY
    precision. The retrieval oracles' ``ORDER BY score`` binds to the
    ROUNDED output alias (DuckDB alias-resolution), so the certified
    ranking is (round(score, nd) DESC, id ASC) — a full-precision cut
    picks a different member of an nd-dp tie group straddling the k
    boundary (observed live: v_hybrid's c291 vs c1835, both 0.461, on
    the r6c corpus). Pinned by test_display_topk_knife_edge."""
    return (
        df.select(id_col, F.round(score_col, nd).alias(score_col))
        .orderBy(F.desc(score_col), F.asc(id_col))
        .limit(k)
    )


def q_v_topk(spark, sf_dir):
    """V4 brute-force cosine top-k (the ANN baseline; display-precision
    cut, see _display_topk)."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    return _display_topk(V.cosine_scores(emb, q), 15)


def q_e4_model(spark, sf_dir):
    """E4 batched-LLM entity slot, oracle-verified end-to-end with the
    deterministic stub model (multi-word capitalized spans, suffix typing):
    mapInPandas inference -> from_json -> explode -> type normalization ->
    md5 content ids, all hash-matched. Documents are lowercase, so two
    deterministic replaces plant the capitalized spans."""
    from agraph_spark.operators.model_extract import extract_entities_model

    d = _docs(spark, sf_dir)
    caps = d.select("conv_id", F.replace(
        F.replace(F.col("text"), F.lit("table"), F.lit("Alice Johnson")),
        F.lit("spark"), F.lit("Acme Corp")).alias("text"))
    out = extract_entities_model(caps)
    return out.select("conv_id", "name", "name_norm", "entity_type", "entity_id")


def q_e8_model(spark, sf_dir):
    """E8 batched-LLM relation slot with the stub model ('X works for Y'
    shapes, EMPLOYED_BY -> works_for normalization, md5 triple ids)."""
    from agraph_spark.operators.model_extract import extract_relations_model

    d = _docs(spark, sf_dir)
    t = d.select("conv_id", F.replace(
        F.col("text"), F.lit("table"),
        F.lit("Bob Smith works for Initech Corp")).alias("text"))
    out = extract_relations_model(t)
    return out.select("conv_id", "subj", "pred", "obj",
                      F.round("conf", 3).alias("conf"), "relation_id")


def q_d4_verify(spark, sf_dir):
    """D4 batched duplicate verification: planted pair families (exact /
    containing / dissimilar) flow through the reference name-similarity
    column and the one-model-call-per-Arrow-batch kernel; verdicts
    hash-matched with the deterministic stub."""
    from agraph_spark.operators.linking import (
        name_similarity_col, verify_pairs_batched)

    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_name").alias("name_a"))
    pairs = (
        s.select("name_a", F.col("name_a").alias("name_b"))
        .unionByName(s.select(
            "name_a", F.concat(F.col("name_a"), F.lit("_v2")).alias("name_b")))
        .unionByName(s.select(
            "name_a", F.reverse(F.col("name_a")).alias("name_b")))
    ).withColumn("name_sim", name_similarity_col())
    out = verify_pairs_batched(pairs)
    return out.select("name_a", "name_b",
                      F.round("name_sim", 3).alias("name_sim"), "is_duplicate")


def q_f3_chunks(spark, sf_dir):
    """F3 chunk queries (json_storage.py:490-688): type filter + entity-
    membership semi-join over documents-as-chunks."""
    from agraph_spark.operators.graph_queries import query_chunks

    d = _docs(spark, sf_dir)
    chunks = d.select(
        F.col("conv_id").alias("chunk_id"),
        F.when(F.col("doc_id") % 2 == 0, "paragraph").otherwise("code")
         .alias("chunk_type"),
        "text")
    links = d.select(F.col("conv_id").alias("chunk_id"),
                     F.lit("spark").alias("name_norm")).where(
        F.instr(F.lower("text"), "spark") > 0)
    out = query_chunks(chunks, chunk_type="paragraph",
                       contains_entity="spark", entity_links=links)
    return out.select("chunk_id", "chunk_type")


def q_d7_chain(spark, sf_dir):
    """D7 auto-merge loop (D3 blocking -> D4 batched verification -> D5
    connected-components canonicalization) end-to-end. Node names are md5
    hex (mutually distant, so the LSH leg deterministically contributes no
    pair above either similarity gate); the alias dictionary supplies the
    confirmed pairs, making the full chain's (entity_id, canonical_id)
    mapping SQL-twinnable: min entity_id per alias-target component."""
    from agraph_spark.operators.linking import link_entities

    d = _docs(spark, sf_dir)
    key = F.col("doc_id").cast("string")
    nodes = d.select(
        F.concat(F.lit("e"), key).alias("entity_id"),
        F.md5(key).alias("name"),
        F.md5(key).alias("name_norm"),
        F.lit("t").alias("entity_type"),
        F.lit(0.8).alias("confidence"),
        F.lit(None).cast("array<string>").alias("aliases"),
        F.lit(1).cast("long").alias("n_mentions"))
    alias_dict = d.where(F.col("doc_id") % 4 == 0).select(
        F.md5(key).alias("alias"),
        F.concat(F.lit("g"), (F.col("doc_id") % 40).cast("string"))
         .alias("canonical_name"),
        F.lit("t").alias("entity_type"))
    return link_entities(nodes, alias_dict=alias_dict)


def q_v5_filtered(spark, sf_dir):
    """V5 filtered vector search (json_storage.py:716-748): the metadata
    filter restricts the candidate set BEFORE scoring (pushed to the scan),
    then plain top-k (display-precision cut, see _display_topk)."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    return _display_topk(V.cosine_scores(emb.where(F.col("vec_id") % 3 == 0), q), 7)


def q_v7_recommend(spark, sf_dir):
    """V7 entity recommendation: nearest neighbors of a seed item with the
    seed itself excluded (knowledge_retriever entity-recommend path;
    display-precision cut, see _display_topk)."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 5).select(F.col("embedding").alias("query_vec"))
    return _display_topk(V.cosine_scores(emb.where(F.col("vec_id") != 5), q), 10)


def q_d3_alias(spark, sf_dir):
    """D3 alias-dictionary blocking (broadcast dict join, FIXTURES.md §2):
    nation/region nodes hit a literal alias dictionary on
    (name_norm, entity_type)."""
    from agraph_spark.operators.linking import alias_link

    nodes, _ = _g(spark, sf_dir)
    nodes = nodes.withColumn("name_norm", F.lower("name"))
    alias_dict = _local_df(spark,
        [("NATION_3", "Nation Three", "nation"),
         ("NATION_7", "Nation Seven", "nation"),
         ("NATION_12", "Nation Twelve", "nation"),
         ("ASIA", "Asia-Pacific", "region"),
         ("EUROPE", "Old World", "region"),
         ("NATION_3", "Wrong Type", "supplier")],  # type mismatch: no hit
        "alias string, canonical_name string, entity_type string")
    return alias_link(nodes, alias_dict)


def q_f5_setunion(spark, sf_dir):
    """F5 set-union semantics via the bounded two-phase salted collect_set
    (salting.py): distinct order statuses per priority, rendered as a
    sorted joined string so the set compare is value-exact."""
    from agraph_spark.operators.salting import salted_collect_set

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sets = salted_collect_set(o, "o_orderpriority", "o_orderstatus", "o_orderkey")
    return sets.select(
        "o_orderpriority",
        F.concat_ws(",", F.array_sort("values")).alias("statuses"))


def q_kg_chunks_hier(spark, sf_dir):
    """C1 separator-hierarchy chunker over documents (non-SQL: the
    recursive separator walk is a mapInPandas kernel; its correctness gate
    is the parity suite vs the actual reference TokenChunker)."""
    from agraph_spark.operators.chunking import token_chunk_documents

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"), "text")
    ch = token_chunk_documents(d, chunk_size=40, overlap=8)
    return ch.groupBy(F.col("conv_id").cast("bigint").alias("doc_id")).agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.length("content")).cast("bigint").alias("content_chars"),
    )


def q_kg_chunks_simple(spark, sf_dir):
    """C1/C2 SimpleTokenChunker mode (chunker.py:287-360), oracle-certified
    (VERDICT r3 #4): first-productive-separator greedy packing with the
    word/0.75 token approximation IS SQL-expressible (a recursive CTE walks
    the parts per doc), unlike the hierarchical mode's unbounded separator
    descent (kg_chunks_hier stays parity-gated, see COVERAGE.md)."""
    from agraph_spark.operators.chunking import token_chunk_documents

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"), "text")
    ch = token_chunk_documents(d, chunk_size=40, overlap=0, mode="simple")
    return ch.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "chunk_idx",
        F.length("content").cast("bigint").alias("chunk_chars"),
        F.md5("content").alias("chunk_md5"),
        "chunk_type",
    )


def q_v8_union_topk(spark, sf_dir):
    """V8 union-pass retrieval over REAL embedding vectors (the hash-stub
    variant kg_search_multi stays as the V2 signal): three namespace slices
    of the embeddings table, one scored union scan, per-namespace window
    top-k."""
    from agraph_spark.operators.retrieval import search_knowledge

    e = _emb(spark, sf_dir)
    nodes = e.where(F.col("vec_id") % 3 == 0).select(
        F.concat(F.lit("e"), F.col("vec_id").cast("string")).alias("entity_id"), "embedding")
    edges = e.where(F.col("vec_id") % 3 == 1).select(
        F.concat(F.lit("r"), F.col("vec_id").cast("string")).alias("edge_id"), "embedding")
    chunks = e.where(F.col("vec_id") % 3 == 2).select(
        F.concat(F.lit("c"), F.col("vec_id").cast("string")).alias("chunk_id"), "embedding")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    out = search_knowledge(nodes, edges, chunks, q, k=7, threshold=-1.0)
    return out.select("item_id", "namespace", F.round("score", 3).alias("score"))


def q_v9_expand(spark, sf_dir):
    """V9 connected-chunk expansion over deterministic chunk-entity links
    (doc_id arithmetic) seeded by the V8 entity hits."""
    from agraph_spark.operators.retrieval import expand_connected_chunks

    retrieved = q_v8_union_topk(spark, sf_dir)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    links = d.select(
        F.concat(F.lit("ch"), (F.col("doc_id") % 40).cast("string")).alias("chunk_id"),
        F.concat(F.lit("e"), (3 * (F.col("doc_id") % 166)).cast("string")).alias("entity_id"),
    ).distinct()
    return expand_connected_chunks(retrieved, links, k_extra=10)


def q_d2_weighted_sim(spark, sf_dir):
    """D2/D3 scoring over consecutive part-name pairs: the reference's
    name similarity (exact/substring/levenshtein-ratio) and weighted
    similarity (0.4 word-Jaccard + 0.2 type + 0.2 alias + 0.2 props)."""
    from agraph_spark.operators.linking import (
        name_similarity_col,
        weighted_similarity_col,
    )

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    a = part.select(F.col("p_partkey").alias("k"), F.lower("p_name").alias("name_a"))
    b = part.select((F.col("p_partkey") - 1).alias("k"), F.lower("p_name").alias("name_b"))
    pairs = a.join(b, "k").withColumn("type_a", F.lit("part")).withColumn(
        "type_b", F.lit("part"))
    return pairs.select(
        "k", "name_a", "name_b",
        F.round(name_similarity_col(), 6).alias("name_sim"),
        weighted_similarity_col().alias("weighted_sim"),
    )


def q_f2_relation_filter(spark, sf_dir):
    """F2 relation query: FK-equality filters over the graph edges."""
    from agraph_spark.operators.graph_queries import query_relations

    _, edges = _g(spark, sf_dir)
    return query_relations(edges, head_id="R0", pred="contains").select(
        "head_id", "tail_id", "pred", "confidence")


def q_g_conf_stats(spark, sf_dir):
    """Confidence aggregates (graph_validator.py:425-450): avg/min entity
    and relation confidence."""
    nodes, edges = _g(spark, sf_dir)
    n = nodes.agg(
        F.round(F.avg("confidence"), 6).alias("avg_entity_conf"),
        F.min("confidence").alias("min_entity_conf"),
    )
    e = edges.agg(
        F.round(F.avg("confidence"), 6).alias("avg_relation_conf"),
        F.min("confidence").alias("min_relation_conf"),
    )
    return n.crossJoin(e)


def q_g_shortest_path(spark, sf_dir):
    """Single BFS-shortest path R0 -> min supplier in region 0."""
    from agraph_spark.operators.graph_queries import shortest_path

    _, edges = _g(spark, sf_dir)
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    target_key = (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_regionkey") == 0)
        .agg(F.min("s_suppkey"))
        .collect()[0][0]
    )
    out = shortest_path(edges, "R0", f"S{target_key}", max_depth=3)
    return out.select(F.concat_ws("->", "path").alias("path"), "depth")


def q_g_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over the TPC-H graph in integer ppb:
    fixed-point arithmetic is order-independent, so the recursive-CTE
    oracle matches bit-exactly at any partitioning."""
    nodes, edges = _g(spark, sf_dir)
    return A.pagerank(nodes, edges, iterations=10)


def q_ev_sliding(spark, sf_dir):
    """Sliding-window aggregation (2h windows, 1h slide): each event lands
    in two epoch-aligned windows."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "2 hours", "1 hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("win_start"),
            "event_type", "n", "sum_value",
        )
    )


def q_g_degree_percentiles(spark, sf_dir):
    """Exact degree percentiles (median/p90/p99) — distribution summary
    beyond the reference's avg/max/min (linear-interpolation percentile,
    bit-identical to DuckDB quantile_cont)."""
    nodes, edges = _g(spark, sf_dir)
    deg = A.degree_per_node(nodes, edges)
    return deg.agg(
        F.expr("percentile(degree, 0.5)").alias("p50"),
        F.expr("percentile(degree, 0.9)").alias("p90"),
        F.expr("percentile(degree, 0.99)").alias("p99"),
    )


def q_ev_rollup(spark, sf_dir):
    """ROLLUP over (event_type, hour): per-cell, per-type, and grand-total
    aggregates in one pass (partial-aggregate friendly at scale)."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn(
            "hour", F.date_trunc("hour", F.col("ts").cast("timestamp")).cast("timestamp_ntz")
        )
        .rollup("event_type", "hour")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def q_tpch_topk_orders(spark, sf_dir):
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("c_mktsegment", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rk")
    )


def _fresh(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Release the PREVIOUS query's tracked caches on entry (its results are
    materialized by the time the harness asks for the next query) so a long
    session running all queries holds at most one query's caches at a time."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from agraph_spark.caching import release_caches

        release_caches(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _fresh(v) for k, v in _RAW_QUERIES.items()}


# Ordering note: the driver's correctness gate samples the FIRST 50 entries
# of this dict, so each round rotates the window to the least-recently
# certified queries. Round 4 certified the 39 never-sampled queries + its 10
# additions + g_components (CORRECTNESS_r04.json); round 5 leads with the 49
# queries OUTSIDE that window (last driver-certified on r1-r3 code — the
# bucketed-store refactor and cap parametrization touched shared paths since)
# plus any new round-5 queries. Every entry stays covered by the full local
# replica (tools/check_oracle.py) regardless of window position.
_RAW_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- round-5 additions (never driver-certified) go FIRST ---
        "mm_png": q_mm_png,
        "f6_stream_merge_md5": q_f6_stream_merge_md5,
        "v_ann_ivf": q_v_ann_ivf,
        "v_ann_ivf_hist": q_v_ann_ivf_hist,
        "g_metrics_report": q_g_metrics_report,
        "g_consistency_report": q_g_consistency_report,
        "g_paths_typed": q_g_paths_typed,
        # --- r1-r3-certified set not sampled in r4: lead the r5 window so
        # --- CORRECTNESS_r05 re-certifies them on end-state code (VERDICT r4 #1)
        "g_cycles": q_g_cycles,
        "g_bfs": q_g_bfs,
        "dd_minhash_md5": q_dd_minhash_md5,
        "kg_chunks": q_kg_chunks,
        "v11_search_modes": q_v11_search_modes,
        "g_degree": q_g_degree,
        "g_stats": q_g_stats,
        "kg_cooccur": q_kg_cooccur,
        "dd_exact": q_dd_exact,
        "v_cosine": q_v_cosine,
        "g_degree_summary": q_g_degree_summary,
        "g_type_dist": q_g_type_dist,
        "g_rel_type_dist": q_g_rel_type_dist,
        "g_isolated": q_g_isolated,
        "g_density": q_g_density,
        "g_importance": q_g_importance,
        "g_top_central": q_g_top_central,
        "g_transitive": q_g_transitive,
        "g_symmetric": q_g_symmetric,
        "g_reverse": q_g_reverse,
        "g_dangling": q_g_dangling,
        "g_dup_sig": q_g_dup_sig,
        "g_self_loops": q_g_self_loops,
        "g_referential": q_g_referential,
        "g_component_sizes": q_g_component_sizes,
        "g_khop": q_g_khop,
        "kg_keywords": q_kg_keywords,
        "kg_confidence": q_kg_confidence,
        "kg_sentences": q_kg_sentences,
        "txt_tokens": q_txt_tokens,
        "txt_quality": q_txt_quality,
        "txt_langid": q_txt_langid,
        "txt_fingerprint": q_txt_fingerprint,
        "dd_exact_dup": q_dd_exact_dup,
        "ev_window": q_ev_window,
        "tpch_join3": q_tpch_join3,
        "dd_ngram_jaccard": q_dd_ngram_jaccard,
        "dd_simhash_md5": q_dd_simhash_md5,
        "v_ann_lsh": q_v_ann_lsh,
        "v_label_pairs": q_v_label_pairs,
        "ev_sessionize": q_ev_sessionize,
        "ev_reassemble": q_ev_reassemble,
        "kg_search_multi_md5": q_kg_search_multi_md5,
        # --- r4-certified set (past the 50-slot window; full local gate covers) ---
        "f1_entity_filter": q_f1_entity_filter,
        # (three ROWS-ONLY queries moved here so the 50-slot window holds
        #  only hash-certifiable entries: their driver row adds no hash
        #  evidence — parity/md5 twins are their real gate)
        "kg_triples_docs": q_kg_triples_docs,
        "kg_entities_docs": q_kg_entities_docs,
        "kg_search_multi": q_kg_search_multi,
        "dd_minhash": q_dd_minhash,
        "dd_simhash": q_dd_simhash,
        "d9_upsert": q_d9_upsert,
        "db_schema": q_db_schema,
        "a14_chunk_sim": q_a14_chunk_sim,
        "g_hierarchical": q_g_hierarchical,
        "g_low_confidence": q_g_low_confidence,
        "g_empty_names": q_g_empty_names,
        "g_all_paths": q_g_all_paths,
        "g_paths_multi": q_g_paths_multi,
        "d6_repoint": q_d6_repoint,
        "g2_cascade": q_g2_cascade,
        "d10_merge": q_d10_merge,
        "g3_links": q_g3_links,
        "g3_rel_links": q_g3_rel_links,
        "v5_filtered": q_v5_filtered,
        "v7_recommend": q_v7_recommend,
        "d3_alias": q_d3_alias,
        "f5_setunion": q_f5_setunion,
        "e4_model": q_e4_model,
        "e8_model": q_e8_model,
        "d4_verify": q_d4_verify,
        "f3_chunks": q_f3_chunks,
        "d7_chain": q_d7_chain,
        "v_hybrid": q_v_hybrid,
        "v10_chat_ctx": q_v10_chat_ctx,
        "v_topk": q_v_topk,
        "v8_union_topk": q_v8_union_topk,
        "d2_weighted_sim": q_d2_weighted_sim,
        "g_conf_stats": q_g_conf_stats,
        "g_shortest_path": q_g_shortest_path,
        "g_pagerank": q_g_pagerank,
        "ev_sliding": q_ev_sliding,
        "g_degree_percentiles": q_g_degree_percentiles,
        "ev_rollup": q_ev_rollup,
        "f2_relation_filter": q_f2_relation_filter,
        "v9_expand": q_v9_expand,
        "kg_chunks_hier": q_kg_chunks_hier,
        "tpch_q1": q_tpch_q1,
        "tpch_seg_month": q_tpch_seg_month,
        "tpch_topk_orders": q_tpch_topk_orders,
        "v10_chat_ctx_md5": q_v10_chat_ctx_md5,
        "kg_chunks_simple": q_kg_chunks_simple,
        "a13_summary": q_a13_summary,
        "g8_recommendations": q_g8_recommendations,
        "v1_render": q_v1_render,
        "s7_exports": q_s7_exports,
        "f6_stream_merge": q_f6_stream_merge,
        "s4_graphml_import": q_s4_graphml_import,
        "s5_store_roundtrip": q_s5_store_roundtrip,
        "mm_features": q_mm_features,
        "g_components": q_g_components,
}


# ---------------------------------------------------------------- oracles

_GC = GRAPH_SQL_CTE  # starts "WITH nodes AS (...), edges AS (...)"

_DEGREE_SQL_TAIL = """
, outd AS (SELECT head_id AS entity_id, count(*)::BIGINT AS out_degree FROM edges GROUP BY head_id),
ind AS (SELECT tail_id AS entity_id, count(*)::BIGINT AS in_degree FROM edges GROUP BY tail_id),
deg AS (
  SELECT n.entity_id,
         coalesce(i.in_degree, 0)::BIGINT AS in_degree,
         coalesce(o.out_degree, 0)::BIGINT AS out_degree,
         (coalesce(i.in_degree, 0) + coalesce(o.out_degree, 0))::BIGINT AS degree
  FROM nodes n LEFT JOIN outd o ON n.entity_id = o.entity_id
               LEFT JOIN ind i ON n.entity_id = i.entity_id
)
"""

_SYM_SQL = """
, sym AS (
  SELECT head_id AS a, tail_id AS b FROM edges
  UNION SELECT tail_id, head_id FROM edges
),
ids AS (SELECT entity_id FROM nodes UNION SELECT a FROM sym),
reach AS (
  SELECT entity_id, entity_id AS r FROM ids
  UNION
  SELECT reach.entity_id, sym.b FROM reach JOIN sym ON reach.r = sym.a
),
comp AS (SELECT entity_id, min(r) AS component FROM reach GROUP BY entity_id)
"""

_WALK_SQL = """
, sym AS (
  SELECT head_id AS a, tail_id AS b FROM edges
  UNION SELECT tail_id, head_id FROM edges
),
walk AS (
  SELECT 'R0' AS entity_id, 0 AS dist
  UNION
  SELECT sym.b, walk.dist + 1 FROM walk JOIN sym ON walk.entity_id = sym.a
  WHERE walk.dist < 5
),
bfs AS (SELECT entity_id, min(dist)::INT AS dist FROM walk GROUP BY entity_id)
"""


def _ann_lsh_oracle_sql() -> str:
    """DuckDB twin of q_v_ann_lsh: the seeded hyperplanes are small literal
    arrays, so the sign-projection bucket is plain SQL (list_dot_product);
    candidates = rows sharing the query's bucket, exact cosine rerank."""
    import numpy as np

    rng = np.random.default_rng(7)
    planes = rng.standard_normal((4, 64)).tolist()

    def arr(p):
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {arr(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
        q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
        SELECT vec_id, round(list_cosine_similarity(v, qv), 3)::DOUBLE AS score
        FROM b, q WHERE bucket = qb
        ORDER BY list_cosine_similarity(v, qv) DESC, vec_id ASC LIMIT 20"""


def oracle_sql() -> dict[str, str]:
    return {
        "v_ann_lsh": _ann_lsh_oracle_sql(),
        "g_degree": _GC + _DEGREE_SQL_TAIL + "SELECT * FROM deg",
        "g_degree_summary": _GC + _DEGREE_SQL_TAIL + """
            SELECT round(avg(degree), 6)::DOUBLE AS average_degree,
                   max(degree)::BIGINT AS max_degree,
                   min(degree)::BIGINT AS min_degree,
                   round(avg(in_degree), 6)::DOUBLE AS average_in_degree,
                   round(avg(out_degree), 6)::DOUBLE AS average_out_degree
            FROM deg""",
        "g_type_dist": _GC + "SELECT entity_type, count(*)::BIGINT AS cnt FROM nodes GROUP BY entity_type",
        "g_rel_type_dist": _GC + "SELECT pred, count(*)::BIGINT AS cnt FROM edges GROUP BY pred",
        "g_isolated": _GC + """
            SELECT entity_id FROM nodes
            WHERE entity_id NOT IN (SELECT head_id FROM edges)
              AND entity_id NOT IN (SELECT tail_id FROM edges)""",
        "g_density": _GC + """
            SELECT CASE WHEN n <= 1 THEN 0.0
                   ELSE round(e / (n * (n - 1.0)), 9) END::DOUBLE AS density
            FROM (SELECT (SELECT count(*) FROM nodes)::DOUBLE n,
                         (SELECT count(*) FROM edges)::DOUBLE e)""",
        "a13_summary": _GC + """
            , stats AS (
              SELECT (SELECT count(*) FROM nodes)::BIGINT AS n,
                     (SELECT count(*) FROM edges)::BIGINT AS e
            ),
            top_e AS (
              SELECT string_agg(entity_type || '=' || cnt, ', ' ORDER BY cnt DESC, entity_type ASC) AS line
              FROM (SELECT coalesce(entity_type, '(null)') AS entity_type, count(*)::BIGINT AS cnt FROM nodes
                    GROUP BY 1 ORDER BY cnt DESC, entity_type ASC LIMIT 5)
            ),
            top_p AS (
              SELECT string_agg(pred || '=' || cnt, ', ' ORDER BY cnt DESC, pred ASC) AS line
              FROM (SELECT coalesce(pred, '(null)') AS pred, count(*)::BIGINT AS cnt FROM edges
                    GROUP BY 1 ORDER BY cnt DESC, pred ASC LIMIT 5)
            )
            SELECT 0::INT AS line_no, 'Knowledge Graph Summary' AS line
            UNION ALL SELECT 1, '  entities: ' || n FROM stats
            UNION ALL SELECT 2, '  relations: ' || e FROM stats
            UNION ALL SELECT 3, '  density: ' ||
              printf('%.6f', CASE WHEN n > 1 THEN e / (n * (n - 1.0)) ELSE 0.0 END)
              FROM stats
            UNION ALL SELECT 4, '  top entity types: ' || (SELECT line FROM top_e)
            UNION ALL SELECT 5, '  top relation types: ' || (SELECT line FROM top_p)""",
        "g8_recommendations": _GC + """
            , stats AS (
              SELECT (SELECT count(*) FROM nodes)::BIGINT AS n,
                     (SELECT count(*) FROM edges)::BIGINT AS e,
                     (SELECT count(*) FROM (
                        SELECT 1 FROM edges WHERE head_id NOT IN (SELECT entity_id FROM nodes)
                        UNION ALL
                        SELECT 1 FROM edges WHERE tail_id NOT IN (SELECT entity_id FROM nodes)))::BIGINT AS n_dangling,
                     (SELECT count(*) FROM (
                        SELECT lower(name) AS nn, entity_type FROM nodes
                        GROUP BY lower(name), entity_type HAVING count(*) > 1))::BIGINT AS n_dup,
                     (SELECT count(*) FROM edges WHERE head_id = tail_id)::BIGINT AS n_self
            ),
            recs AS (
              SELECT list_filter([
                CASE WHEN e::DOUBLE / greatest(n, 1) < 0.1
                     THEN 'Graph is sparse: consider extracting more relations or lowering confidence thresholds' END,
                CASE WHEN e::DOUBLE / greatest(n, 1) > 10
                     THEN 'Graph is dense: consider raising relation confidence thresholds or pruning related_to edges' END,
                CASE WHEN n_dangling > 0
                     THEN 'Dangling relations found: run referential integrity enforcement' END,
                CASE WHEN n_dup > 0
                     THEN 'Duplicate (name, type) entities found: run entity linking / auto-merge' END,
                CASE WHEN n_self > 0
                     THEN 'Self-loop relations found: review extraction validation rules' END
              ], x -> x IS NOT NULL) AS l FROM stats
            ),
            final AS (
              SELECT CASE WHEN len(l) = 0 THEN ['Graph structure looks healthy'] ELSE l END AS l
              FROM recs
            )
            SELECT (generate_subscripts(l, 1) - 1)::INT AS rec_idx,
                   unnest(l) AS recommendation
            FROM final""",
        "g_importance": _GC + _DEGREE_SQL_TAIL + """
            SELECT entity_id,
                   CASE WHEN (SELECT count(*) FROM nodes) <= 1 THEN 0.0
                        ELSE round(degree / ((SELECT count(*) FROM nodes) - 1.0), 9)
                   END::DOUBLE AS importance
            FROM deg""",
        "g_top_central": _GC + _DEGREE_SQL_TAIL
        + "SELECT * FROM deg ORDER BY degree DESC, entity_id ASC LIMIT 5",
        "g_transitive": _GC + """
            SELECT r1.head_id, r2.tail_id, 'contains' AS pred,
                   round(least(r1.confidence, r2.confidence) * 0.8, 9)::DOUBLE AS confidence,
                   'transitive_inference' AS source
            FROM edges r1 JOIN edges r2 ON r1.tail_id = r2.head_id
            WHERE r1.pred = 'contains' AND r2.pred = 'contains'""",
        "g_symmetric": _GC + """
            SELECT tail_id AS head_id, head_id AS tail_id, pred,
                   round(confidence * 0.9, 9)::DOUBLE AS confidence,
                   'symmetric_inference' AS source
            FROM edges WHERE pred IN ('similar_to', 'synonyms')""",
        "g_reverse": _GC + """
            SELECT tail_id AS head_id, head_id AS tail_id,
                   CASE pred WHEN 'contains' THEN 'belongs_to'
                             WHEN 'belongs_to' THEN 'contains'
                             ELSE pred END AS pred,
                   confidence
            FROM edges""",
        "g_dangling": _GC + """
            SELECT pred || '|' || head_id || '|' || tail_id || '|' || source AS edge_id,
                   'head' AS dangling_side
            FROM edges WHERE head_id NOT IN (SELECT entity_id FROM nodes)
            UNION ALL
            SELECT pred || '|' || head_id || '|' || tail_id || '|' || source,
                   'tail'
            FROM edges WHERE tail_id NOT IN (SELECT entity_id FROM nodes)""",
        "g_dup_sig": _GC + """
            SELECT head_id, tail_id, pred, count(*)::BIGINT AS cnt
            FROM edges GROUP BY head_id, tail_id, pred HAVING count(*) > 1""",
        "g_self_loops": _GC + """
            SELECT pred || '|' || head_id || '|' || tail_id || '|' || source AS edge_id, head_id
            FROM edges WHERE head_id = tail_id""",
        "g_referential": _GC + """
            SELECT pred, count(*)::BIGINT AS n_valid_edges FROM edges
            WHERE head_id IN (SELECT entity_id FROM nodes)
              AND tail_id IN (SELECT entity_id FROM nodes)
            GROUP BY pred""",
        "d6_repoint": _GC + """,
            mapping AS (
              SELECT 'S' || s_suppkey AS eid, 'N' || s_nationkey AS cid
              FROM supplier WHERE s_suppkey % 3 = 0
            )
            SELECT coalesce(mh.cid, e.head_id) AS head_id,
                   coalesce(mt.cid, e.tail_id) AS tail_id,
                   e.pred, round(e.confidence, 3)::DOUBLE AS confidence, e.source
            FROM edges e
            LEFT JOIN mapping mh ON e.head_id = mh.eid
            LEFT JOIN mapping mt ON e.tail_id = mt.eid""",
        "g2_cascade": _GC + """,
            del AS (SELECT 'N' || n_nationkey AS entity_id FROM nation
                    WHERE n_nationkey % 5 = 0)
            SELECT head_id, tail_id, pred,
                   round(confidence, 3)::DOUBLE AS confidence, source
            FROM edges e
            WHERE head_id NOT IN (SELECT entity_id FROM del)
              AND tail_id NOT IN (SELECT entity_id FROM del)""",
        "g3_links": """
            WITH names(name_norm) AS (
              VALUES ('spark'), ('graph'), ('entity'), ('join'), ('table'))
            SELECT doc_id::VARCHAR AS chunk_id, doc_id::VARCHAR AS conv_id,
                   name_norm
            FROM documents, names
            WHERE instr(lower(text), name_norm) > 0""",
        "g3_rel_links": """
            WITH names(name_norm) AS (
              VALUES ('spark'), ('graph'), ('entity'), ('join'), ('table')),
            links AS (
              SELECT doc_id::VARCHAR AS chunk_id, name_norm
              FROM documents, names
              WHERE instr(lower(text), name_norm) > 0),
            trips(conv_id, subj, pred, obj) AS (
              VALUES ('g', 'spark', 'uses', 'table'),
                     ('g', 'graph', 'links', 'entity'))
            SELECT h.chunk_id, t.conv_id, t.subj, t.pred, t.obj
            FROM trips t
            JOIN links h ON h.name_norm = t.subj
            JOIN links o ON o.name_norm = t.obj AND o.chunk_id = h.chunk_id""",
        "d3_alias": _GC + """,
            ad(alias, canonical_name, entity_type) AS (
              VALUES ('NATION_3', 'Nation Three', 'nation'),
                     ('NATION_7', 'Nation Seven', 'nation'),
                     ('NATION_12', 'Nation Twelve', 'nation'),
                     ('ASIA', 'Asia-Pacific', 'region'),
                     ('EUROPE', 'Old World', 'region'),
                     ('NATION_3', 'Wrong Type', 'supplier'))
            SELECT n.entity_id, lower(a.canonical_name) AS canonical_name
            FROM nodes n
            JOIN ad a ON lower(n.name) = lower(a.alias)
                     AND n.entity_type = a.entity_type""",
        "d10_merge": _GC + """,
            all_nodes AS (
              SELECT entity_id, name, entity_type, confidence,
                     lower(name) AS name_norm
              FROM nodes
              UNION ALL
              SELECT 'M' || n_nationkey, n_name, 'nation', 0.95, lower(n_name)
              FROM nation
            ),
            survivor AS (
              SELECT name_norm, min(entity_id) AS canonical_id
              FROM all_nodes GROUP BY name_norm
            ),
            canon AS (
              SELECT n.*, s.canonical_id
              FROM all_nodes n JOIN survivor s ON n.name_norm = s.name_norm
            ),
            best AS (
              SELECT canonical_id AS entity_id, name, entity_type,
                     max(confidence) OVER (PARTITION BY canonical_id) AS confidence,
                     count(*) OVER (PARTITION BY canonical_id)::BIGINT AS n_mentions,
                     row_number() OVER (PARTITION BY canonical_id
                                        ORDER BY confidence DESC, canon.entity_id DESC) AS rk
              FROM canon
            )
            SELECT entity_id, name, entity_type,
                   round(confidence, 3)::DOUBLE AS confidence, n_mentions
            FROM best WHERE rk = 1""",
        "g_components": _GC + _SYM_SQL + "SELECT entity_id, component FROM comp",
        "g_component_sizes": _GC + _SYM_SQL
        + "SELECT component, count(*)::BIGINT AS size FROM comp GROUP BY component",
        "g_bfs": _GC + _WALK_SQL + "SELECT entity_id, dist FROM bfs",
        "g_khop": _GC + _WALK_SQL
        + "SELECT entity_id, dist AS hop FROM bfs WHERE dist BETWEEN 1 AND 2",
        "g_cycles": _GC + """
            , e AS (SELECT DISTINCT head_id a, tail_id b FROM edges)
            , paths AS (
              SELECT a AS start, b AS last, [a, b] AS nodes, 1 AS len
              FROM e WHERE b > a
              UNION ALL
              SELECT p.start, x.b, list_append(p.nodes, x.b), p.len + 1
              FROM paths p JOIN e x ON p.last = x.a
              WHERE p.len < 4 AND x.b > p.start AND NOT list_contains(p.nodes, x.b)
            )
            SELECT DISTINCT p.start AS cycle_start, (p.len + 1)::INT AS cycle_len
            FROM paths p JOIN e c ON p.last = c.a AND c.b = p.start""",
        "g_stats": _GC + """
            SELECT (SELECT count(*) FROM nodes)::BIGINT AS entity_count,
                   (SELECT count(*) FROM edges)::BIGINT AS relation_count""",
        "kg_keywords": f"""
            WITH w AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '\\b[a-zA-Z]{{3,}}\\b')) AS word,
                     generate_subscripts(regexp_extract_all(lower(text), '\\b[a-zA-Z]{{3,}}\\b'), 1) AS pos
              FROM documents
            ),
            counted AS (
              SELECT doc_id, word, count(*)::BIGINT AS cnt, min(pos) AS first_pos
              FROM w WHERE word NOT IN ({_SW})
              GROUP BY doc_id, word HAVING count(*) >= 2
            )
            SELECT doc_id, word, cnt FROM counted
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY first_pos) <= 10""",
        "kg_confidence": f"""
            WITH toks AS (
              SELECT DISTINCT unnest(regexp_extract_all(text, '\\b[A-Za-z]{{2,}}\\b')) AS name
              FROM documents
            )
            SELECT name,
                   round(least(1.0, greatest(0.0,
                     0.5 + CASE WHEN length(name) > 1 THEN 0.1 ELSE 0 END
                         + CASE WHEN length(name) > 3 THEN 0.1 ELSE 0 END
                         + CASE WHEN regexp_matches(name, '^[A-Z]') THEN 0.1 ELSE 0 END
                         - CASE WHEN lower(name) IN ({_SW}) THEN 0.3 ELSE 0 END
                   )), 2)::DOUBLE AS confidence
            FROM toks""",
        "kg_sentences": r"""
            SELECT doc_id,
                   len(list_filter(
                     list_transform(regexp_split_to_array(text, '[.!?]+'),
                                    x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
                     s -> s <> ''))::BIGINT AS n_sentences
            FROM documents
            WHERE len(list_filter(
                     list_transform(regexp_split_to_array(text, '[.!?]+'),
                                    x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
                     s -> s <> '')) > 0""",
        "kg_cooccur": f"""
            WITH sents_raw AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(text, '[.!?]+')) AS sent_raw,
                     generate_subscripts(regexp_split_to_array(text, '[.!?]+'), 1) AS sent_idx
              FROM documents
            ),
            sents AS (
              SELECT doc_id,
                     lower(regexp_replace(sent_raw, '^\\s+|\\s+$', '', 'g')) AS sent,
                     sent_idx
              FROM sents_raw
            ),
            nonempty AS (SELECT * FROM sents WHERE sent <> ''),
            ents(ent) AS (VALUES {", ".join(f"('{e}')" for e in _COOCCUR_ENTS)}),
            hits AS (
              SELECT doc_id, sent_idx, ent FROM nonempty, ents
              WHERE strpos(sent, ent) > 0
            )
            SELECT DISTINCT a.doc_id, a.ent AS ent_a, b.ent AS ent_b
            FROM hits a JOIN hits b
              ON a.doc_id = b.doc_id AND a.sent_idx = b.sent_idx AND a.ent < b.ent""",
        "txt_tokens": r"""
            SELECT doc_id,
                   (CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                         ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END)::BIGINT AS n_tokens,
                   (len(regexp_extract_all(text, '[A-Za-z]+(?:''[A-Za-z]+)?'))
                    + len(regexp_extract_all(text, '\d+'))
                    + len(regexp_extract_all(text, '[一-鿿]')))::BIGINT AS n_word_tokens
            FROM documents""",
        "txt_quality": f"""
            WITH feat AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z]+') AS words,
                     length(text) AS n_chars,
                     len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
                     len(regexp_extract_all(text, '[A-Z]')) AS n_upper,
                     CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
              FROM documents
            ),
            f2 AS (
              SELECT doc_id, n_chars, n_punct, n_upper, n_tokens,
                     len(words) AS n_words,
                     len(list_filter(words, w -> w IN ({", ".join(f"'{w}'" for w in TS.EN_STOPWORDS)}))) AS n_stop
              FROM feat
            ),
            f3 AS (
              SELECT doc_id,
                     round(CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct / n_chars::DOUBLE END, 6) AS punct_ratio,
                     round(CASE WHEN n_words = 0 THEN 0.0 ELSE n_stop / n_words::DOUBLE END, 6) AS stopword_ratio,
                     CASE WHEN n_chars = 0 THEN 0.0 ELSE n_upper / n_chars::DOUBLE END AS upper_ratio,
                     n_tokens
              FROM f2
            )
            SELECT doc_id, punct_ratio::DOUBLE AS punct_ratio,
                   stopword_ratio::DOUBLE AS stopword_ratio,
                   round(0.25 * least(n_tokens / 50.0, 1.0)
                       + 0.25 * least(stopword_ratio * 4.0, 1.0)
                       + 0.25 * least(punct_ratio * 20.0, 1.0)
                       + 0.25 * (1.0 - least(upper_ratio * 5.0, 1.0)), 6)::DOUBLE AS quality
            FROM f3""",
        "txt_langid": """
            SELECT doc_id,
                   CASE WHEN length(text) > 0
                             AND len(regexp_extract_all(text, '[一-鿿]')) / length(text)::DOUBLE >= 0.15 THEN 'zh'
                        WHEN length(text) > 0
                             AND len(regexp_extract_all(text, '[A-Za-z]')) / length(text)::DOUBLE >= 0.4 THEN 'en'
                        ELSE 'other' END AS lang
            FROM documents""",
        "txt_fingerprint": r"""
            SELECT doc_id, md5(lower(regexp_replace(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'))) AS fp
            FROM documents""",
        "dd_exact": r"""
            SELECT md5(lower(regexp_replace(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'))) AS fp,
                   count(*)::BIGINT AS cnt, min(doc_id) AS keeper_id
            FROM documents GROUP BY 1 HAVING count(*) > 1""",
        "dd_ngram_jaccard": r"""
            WITH toks AS (
              SELECT doc_id AS doc,
                     unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS w,
                     generate_subscripts(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'), 1) AS i
              FROM documents
            ),
            sh3 AS (
              SELECT DISTINCT doc,
                     w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS shingle
              FROM toks WINDOW win AS (PARTITION BY doc ORDER BY i)
              QUALIFY lead(w, 2) OVER win IS NOT NULL
            ),
            sh AS (
              -- short-doc fallback mirrors word_shingles: docs with <3 tokens
              -- emit ONE whole-text shingle (possibly '') instead of none
              SELECT * FROM sh3
              UNION ALL
              SELECT doc, string_agg(w, ' ' ORDER BY i) AS shingle
              FROM toks GROUP BY doc HAVING count(*) < 3
            ),
            sizes AS (SELECT doc, count(*)::BIGINT AS sz FROM sh GROUP BY doc),
            hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 200),
            filt AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
            inter AS (
              SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS inter
              FROM filt a JOIN filt b ON a.shingle = b.shingle AND a.doc < b.doc
              GROUP BY a.doc, b.doc
            )
            SELECT doc_a, doc_b,
                   round(inter / (sa.sz + sb.sz - inter)::DOUBLE, 6)::DOUBLE AS jaccard
            FROM inter
            JOIN sizes sa ON inter.doc_a = sa.doc
            JOIN sizes sb ON inter.doc_b = sb.doc
            WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE >= 0.2""",
        "dd_minhash_md5": r"""
            WITH toks AS (
              SELECT doc_id AS doc,
                     unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS w,
                     generate_subscripts(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'), 1) AS i
              FROM documents
            ),
            sh3 AS (
              SELECT DISTINCT doc,
                     w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS shingle
              FROM toks WINDOW win AS (PARTITION BY doc ORDER BY i)
              QUALIFY lead(w, 2) OVER win IS NOT NULL
            ),
            sh AS (
              -- short-doc fallback mirrors word_shingles (one whole-text shingle)
              SELECT * FROM sh3
              UNION ALL
              SELECT doc, string_agg(w, ' ' ORDER BY i) AS shingle
              FROM toks GROUP BY doc HAVING count(*) < 3
            ),
            hashed AS (
              SELECT doc, seed,
                     min(('0x' || substring(md5(seed::VARCHAR || '#' || shingle), 1, 15))::UBIGINT::BIGINT) AS mh
              FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) seeds
              GROUP BY doc, seed
            ),
            sig AS (SELECT doc, list(mh ORDER BY seed) AS sig FROM hashed GROUP BY doc),
            bands AS (
              SELECT doc, b, array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ',') AS bucket
              FROM (SELECT doc, sig, unnest(generate_series(0, 3)) AS b FROM sig)
            ),
            cand AS (
              SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b
              FROM bands x JOIN bands y
                ON x.b = y.b AND x.bucket = y.bucket AND x.doc < y.doc
            ),
            est AS (
              SELECT c.doc_a, c.doc_b,
                     len(list_filter(generate_series(1, 16), i -> sa.sig[i] = sb.sig[i])) / 16.0 AS ej
              FROM cand c
              JOIN sig sa ON c.doc_a = sa.doc
              JOIN sig sb ON c.doc_b = sb.doc
            )
            SELECT doc_a, doc_b, round(ej, 6)::DOUBLE AS est_jaccard
            FROM est WHERE ej >= 0.3""",
        "dd_simhash_md5": r"""
            WITH toks AS (
              SELECT doc_id AS doc, unnest(regexp_extract_all(lower(text), '\w+')) AS tok
              FROM documents
            ),
            hashed AS (
              SELECT doc, ('0x' || substring(md5('0#' || tok), 1, 15))::UBIGINT::BIGINT AS h
              FROM toks
            ),
            bit_sums AS (
              SELECT doc, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) bits
              GROUP BY doc, i
            ),
            sim AS (
              SELECT doc, sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
              FROM bit_sums GROUP BY doc
            ),
            bands AS (
              SELECT doc, simhash, b, (simhash >> (b * 15)) & 32767 AS key
              FROM (SELECT doc, simhash, unnest(generate_series(0, 3)) AS b FROM sim)
            ),
            pairs AS (
              SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b,
                     bit_count(xor(x.simhash, y.simhash)) AS hamming
              FROM bands x JOIN bands y
                ON x.b = y.b AND x.key = y.key AND x.doc < y.doc
            )
            SELECT doc_a, doc_b, hamming::INT AS hamming
            FROM pairs WHERE hamming <= 8""",
        "dd_exact_dup": r"""
            WITH u AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id + 1000000, text FROM documents
            )
            SELECT md5(lower(regexp_replace(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'))) AS fp,
                   count(*)::BIGINT AS cnt, min(doc_id) AS keeper_id
            FROM u GROUP BY 1 HAVING count(*) > 1""",
        "ev_rollup": """
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   count(*)::BIGINT AS n, round(sum(value), 2)::DOUBLE AS sum_value
            FROM events GROUP BY ROLLUP (event_type, date_trunc('hour', ts))""",
        "g_degree_percentiles": _GC + _DEGREE_SQL_TAIL + """
            SELECT quantile_cont(degree, 0.5)::DOUBLE AS p50,
                   quantile_cont(degree, 0.9)::DOUBLE AS p90,
                   quantile_cont(degree, 0.99)::DOUBLE AS p99
            FROM deg""",
        "ev_sliding": """
            WITH w AS (
              SELECT date_trunc('hour', ts) - to_hours(k) AS win_start, event_type, value
              FROM events, unnest([0, 1]) AS t(k)
            )
            SELECT win_start, event_type, count(*)::BIGINT AS n,
                   round(sum(value), 2)::DOUBLE AS sum_value
            FROM w GROUP BY 1, 2""",
        "ev_window": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*)::BIGINT AS n,
                   round(sum(value), 2)::DOUBLE AS sum_value
            FROM events GROUP BY 1, 2""",
        "tpch_join3": """
            SELECT c_mktsegment, l_returnflag, count(*)::BIGINT AS n_items,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)::DOUBLE AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment, l_returnflag""",
        "v_cosine": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv), 3)::DOUBLE AS score
            FROM embeddings, q
            WHERE round(list_cosine_similarity(embedding::DOUBLE[], qv), 3) >= 0.105""",
        "v_label_pairs": """
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3)::DOUBLE AS score
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3) >= 0.5""",
        "ev_sessionize": """
            WITH flagged AS (
              SELECT user_id, value, ts, event_id,
                     CASE WHEN lag(ts) OVER win IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER win) > 1800 * 1000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
              SELECT user_id, value,
                     sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
              FROM flagged
            )
            SELECT user_id, session_id, count(*)::BIGINT AS n_events,
                   round(sum(value), 2)::DOUBLE AS sum_value
            FROM sess GROUP BY user_id, session_id""",
        "ev_reassemble": """
            SELECT user_id, string_agg(event_type, '|' ORDER BY ts, event_id) AS seq_str
            FROM events GROUP BY user_id""",
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2)::DOUBLE AS sum_qty,
                   round(sum(l_extendedprice), 2)::DOUBLE AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)::DOUBLE AS sum_disc_price,
                   count(*)::BIGINT AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "f1_entity_filter": _GC + """
            SELECT entity_id, name FROM nodes
            WHERE entity_type = 'supplier'
              AND strpos(lower(name), 'supplier#00000000') > 0
              AND confidence >= 0.85
            ORDER BY entity_id LIMIT 100""",
        "d9_upsert": """
            WITH base AS (
              SELECT c_custkey AS k, 'E' || c_custkey AS entity_id,
                     lower(c_name) AS name_norm
              FROM customer
            ),
            unioned AS (
              SELECT entity_id, name_norm, 0.5 AS confidence, 0 AS _src
              FROM base WHERE k % 2 = 0
              UNION ALL
              SELECT 'B' || k, name_norm, 0.9, 1 FROM base WHERE k % 3 = 0
            )
            SELECT min_by(entity_id, _src) AS entity_id, name_norm,
                   max(confidence)::DOUBLE AS confidence,
                   count(*)::BIGINT AS n_mentions
            FROM unioned GROUP BY name_norm""",
        "kg_chunks": r"""
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                          ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_words
              FROM documents
            )
            SELECT doc_id,
                   (CASE WHEN n_words <= 48 THEN 1
                         ELSE ceil((n_words - 48) / 36.0) + 1 END)::BIGINT AS n_chunks,
                   n_words::BIGINT AS n_words
            FROM w WHERE n_words > 0""",
        "tpch_topk_orders": """
            SELECT c_mktsegment, o_orderkey,
                   round(o_totalprice, 2)::DOUBLE AS total,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY o_totalprice DESC, o_orderkey ASC)::INT AS rk
            FROM orders JOIN customer ON o_custkey = c_custkey
            QUALIFY rk <= 3""",
        "a14_chunk_sim": """
            WITH l AS (
              SELECT 'c' || doc_id AS chunk_id,
                     ['e' || (doc_id % 97), 'f' || (doc_id % 89)] AS ents,
                     ['r' || (doc_id % 7), 's' || (doc_id % 11)] AS rels
              FROM documents
            ),
            ex AS (SELECT chunk_id, unnest(ents) AS e FROM l),
            cand AS (
              SELECT DISTINCT a.chunk_id AS chunk_a, b.chunk_id AS chunk_b
              FROM ex a JOIN ex b ON a.e = b.e AND a.chunk_id < b.chunk_id
            ),
            p AS (
              SELECT chunk_a, chunk_b, la.ents ea, lb.ents eb, la.rels ra, lb.rels rb
              FROM cand JOIN l la ON cand.chunk_a = la.chunk_id
                        JOIN l lb ON cand.chunk_b = lb.chunk_id
            )
            SELECT chunk_a, chunk_b,
                   round(0.6 * (len(list_intersect(ea, eb)) / len(list_distinct(ea || eb))::DOUBLE)
                       + 0.4 * (len(list_intersect(ra, rb)) / len(list_distinct(ra || rb))::DOUBLE),
                         6)::DOUBLE AS similarity
            FROM p""",
        "g_hierarchical": """
            WITH parents AS (
              SELECT DISTINCT 'P' || substring(s_name, 1, length(s_name) - 1) AS parent_id,
                     lower(substring(s_name, 1, length(s_name) - 1)) AS parent_name
              FROM supplier
            ),
            children AS (
              SELECT 'S' || s_suppkey AS child_id, lower(s_name) AS child_name FROM supplier
            )
            SELECT parent_id AS head_id, child_id AS tail_id, 'contains' AS pred,
                   0.6::DOUBLE AS confidence, 'hierarchical_inference' AS source
            FROM parents JOIN children ON strpos(child_name, parent_name) > 0
            WHERE parent_id <> child_id""",
        "g_low_confidence": _GC + """
            SELECT entity_id AS item_id, 'entity' AS kind, confidence::DOUBLE AS confidence
            FROM nodes WHERE confidence < 0.85
            UNION ALL
            SELECT pred || '|' || head_id || '|' || tail_id || '|' || source,
                   'relation', confidence::DOUBLE
            FROM edges WHERE confidence < 0.85""",
        "g_empty_names": _GC + """
            , withbad AS (
              SELECT entity_id, name, entity_type FROM nodes
              UNION ALL SELECT 'X1', '  ', 'blank'
            )
            SELECT entity_id, entity_type FROM withbad WHERE trim(name) = ''""",
        "g_paths_typed": _GC + """
            , adj AS (SELECT DISTINCT head_id AS a, tail_id AS b FROM edges
                      WHERE pred = 'contains'),
            target AS (
              SELECT 'S' || min(s_suppkey) AS t
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              WHERE n_regionkey = 0
            ),
            walk AS (
              SELECT 'R0' AS node, ['R0'] AS path
              UNION ALL
              SELECT adj.b, path || [adj.b]
              FROM walk JOIN adj ON walk.node = adj.a
              WHERE NOT list_contains(path, adj.b)
                AND len(path) <= 3
                AND walk.node <> (SELECT t FROM target)
            )
            SELECT array_to_string(path, '->') AS path, (len(path) - 1)::INT AS depth
            FROM walk WHERE node = (SELECT t FROM target)""",
        "g_all_paths": _GC + """
            , adj AS (SELECT DISTINCT head_id AS a, tail_id AS b FROM edges),
            target AS (
              SELECT 'S' || min(s_suppkey) AS t
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              WHERE n_regionkey = 0
            ),
            walk AS (
              SELECT 'R0' AS node, ['R0'] AS path
              UNION ALL
              SELECT adj.b, path || [adj.b]
              FROM walk JOIN adj ON walk.node = adj.a
              WHERE NOT list_contains(path, adj.b)
                AND len(path) <= 3
                AND walk.node <> (SELECT t FROM target)
            )
            SELECT array_to_string(path, '->') AS path, (len(path) - 1)::INT AS depth
            FROM walk WHERE node = (SELECT t FROM target)""",
        "g_paths_multi": _GC + """
            , adj AS (SELECT DISTINCT head_id AS a, tail_id AS b FROM edges),
            targets AS (
              SELECT DISTINCT 'S' || s_suppkey AS t
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              WHERE n_regionkey = 0
            ),
            walk AS (
              SELECT 'R0' AS node, ['R0'] AS path
              UNION ALL
              SELECT adj.b, path || [adj.b]
              FROM walk JOIN adj ON walk.node = adj.a
              WHERE NOT list_contains(path, adj.b) AND len(path) <= 3
            )
            SELECT w.node AS target, array_to_string(w.path, '->') AS path,
                   (len(w.path) - 1)::INT AS depth
            FROM walk w JOIN targets ON w.node = targets.t""",
        "g_pagerank": _GC + """
            , deg AS (SELECT head_id, count(*)::BIGINT AS outd FROM edges GROUP BY head_id),
            adj AS (SELECT e.head_id AS h, e.tail_id AS t, d.outd
                    FROM edges e JOIN deg d ON e.head_id = d.head_id),
            pr AS (
              SELECT entity_id, 1000000000::BIGINT AS rank, 0 AS it FROM nodes
              UNION ALL
              SELECT p.entity_id,
                     (150000000 + coalesce((
                       SELECT sum(q.rank // a.outd) FROM pr q JOIN adj a ON q.entity_id = a.h
                       WHERE a.t = p.entity_id), 0) * 85 // 100)::BIGINT,
                     p.it + 1
              FROM pr p WHERE p.it < 10
            )
            SELECT entity_id, rank FROM pr WHERE it = 10""",
        "g_shortest_path": _GC + """
            , adj AS (SELECT DISTINCT head_id AS a, tail_id AS b FROM edges),
            target AS (
              SELECT 'S' || min(s_suppkey) AS t
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              WHERE n_regionkey = 0
            ),
            walk AS (
              SELECT 'R0' AS node, ['R0'] AS path
              UNION ALL
              SELECT adj.b, path || [adj.b]
              FROM walk JOIN adj ON walk.node = adj.a
              WHERE NOT list_contains(path, adj.b)
                AND len(path) <= 3
                AND walk.node <> (SELECT t FROM target)
            )
            SELECT array_to_string(path, '->') AS path, (len(path) - 1)::INT AS depth
            FROM walk WHERE node = (SELECT t FROM target)
            ORDER BY depth ASC, array_to_string(path, '->') ASC LIMIT 1""",
        "v_hybrid": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            ch AS (
              SELECT 'c' || doc_id AS chunk_id, text AS content, embedding::DOUBLE[] AS v
              FROM documents JOIN embeddings ON doc_id = vec_id
            ),
            scored AS (
              SELECT chunk_id,
                     CASE WHEN strpos(lower(content), 'table join query') > 0 THEN 0.8
                          ELSE len(list_intersect(str_split_regex(lower(content), '\\s+'),
                                                  ['join', 'query', 'table'])) / 3.0
                     END AS text_score,
                     list_cosine_similarity(v, qv) AS score
              FROM ch, q
            ),
            hy AS (
              SELECT chunk_id, round(0.25 * text_score + 0.75 * score, 9) AS hybrid_score
              FROM scored
            )
            SELECT chunk_id, round(hybrid_score, 3)::DOUBLE AS hybrid_score
            FROM hy ORDER BY hybrid_score DESC, chunk_id LIMIT 10""",
        "db_schema": """
            SELECT * FROM (VALUES
              ('shopdb', 'database'),
              ('tbl_users', 'table'),
              ('tb_orders', 'table'),
              ('tbl_users.email', 'column'),
              ('tb_orders.user_id', 'column'),
              ('User Management', 'concept'),
              ('Order Management', 'concept'),
              ('shopdb->tbl_users', 'contains'),
              ('shopdb->tb_orders', 'contains'),
              ('tbl_users->tbl_users.id', 'contains'),
              ('tbl_users->tbl_users.email', 'contains'),
              ('tb_orders->tb_orders.id', 'contains'),
              ('tb_orders->tb_orders.user_id', 'contains'),
              ('tb_orders.user_id->tbl_users.id', 'foreign_key')
            ) AS t(item, kind)""",
        "kg_search_multi_md5": r"""
            WITH items AS (
              SELECT doc_id::VARCHAR AS item_id, 'text_chunk' AS namespace, text AS txt
              FROM documents
              UNION ALL
              SELECT 'e' || doc_id::VARCHAR, 'entity', substring(text, 1, 40) FROM documents
              UNION ALL
              SELECT 'r' || doc_id::VARCHAR, 'relation', substring(text, 20, 40) FROM documents
              UNION ALL
              SELECT '__query__', 'query', 'table join query'
            ),
            comps AS (
              SELECT item_id, namespace, i,
                     ((('0x' || substring(md5(i::VARCHAR || '#' || txt), 1, 15))::UBIGINT
                        % 2000)::BIGINT - 1000) / 1000.0 AS c
              FROM items CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) dim
            ),
            emb AS (
              SELECT item_id, namespace, list(c ORDER BY i) AS v
              FROM comps GROUP BY item_id, namespace
            ),
            q AS (SELECT v AS qv FROM emb WHERE namespace = 'query'),
            scored AS (
              SELECT item_id, namespace, list_cosine_similarity(v, qv) AS raw
              FROM emb, q WHERE namespace <> 'query'
            )
            SELECT item_id, namespace, round(raw, 3)::DOUBLE AS score
            FROM scored
            QUALIFY row_number() OVER (PARTITION BY namespace
                                       ORDER BY raw DESC, item_id ASC) <= 5""",
        "s4_graphml_import": r"""
            SELECT * FROM (VALUES
              ('n1', 'node', 'Acme & Sons <Ltd>', 'org', NULL::DOUBLE),
              ('n2', 'node', 'Bob', 'person', NULL),
              ('n3', 'node', '', 'unknown', NULL),
              ('n2->n1', 'edge', 'works_for', NULL::VARCHAR, 0.9),
              ('n1->n3', 'edge', 'related_to', NULL, 0.0)
            ) AS t(item_id, kind, a, b, conf)""",
        "s5_store_roundtrip": _GC + """
            SELECT head_id, tail_id, pred, confidence::DOUBLE AS confidence,
                   source, (SELECT count(*) FROM nodes)::BIGINT AS n_nodes
            FROM edges""",
        "mm_features": r"""
            WITH ids AS (SELECT unnest(generate_series(0, 39)) AS doc),
            dims AS (SELECT unnest(generate_series(0, 15)) AS dim),
            js AS (SELECT unnest(generate_series(0, 3)) AS j),
            px AS (
              SELECT doc, dim,
                     avg(((doc * 7 + (dim * 4 + j) * 13) % 256) / 255.0) AS m
              FROM ids, dims, js GROUP BY doc, dim
            )
            SELECT 'm' || doc::VARCHAR AS media_id, 75::INT AS n_bytes,
                   dim::INT AS dim, round(m, 4)::DOUBLE AS v
            FROM px""",
        "g_consistency_report": _GC + """
            , esig AS (
              SELECT coalesce(head_id, '(null)') || '|' || coalesce(tail_id, '(null)')
                       || '|' || coalesce(pred, '(null)') AS item,
                     head_id, tail_id
              FROM edges
            ),
            mh AS (
              SELECT 'missing_head_entity' AS issue_type, item, count(*)::BIGINT AS n
              FROM esig WHERE head_id IS NULL
                OR head_id NOT IN (SELECT entity_id FROM nodes)
              GROUP BY 2
            ),
            mt AS (
              SELECT 'missing_tail_entity', item, count(*)::BIGINT
              FROM esig WHERE tail_id IS NULL
                OR tail_id NOT IN (SELECT entity_id FROM nodes)
              GROUP BY 2
            ),
            dup AS (
              SELECT 'duplicate_relation', item, n FROM (
                SELECT item, (count(*) - 1)::BIGINT AS n
                FROM esig GROUP BY 1) WHERE n > 0
            ),
            sl AS (
              SELECT 'self_loop', head_id, count(*)::BIGINT
              FROM edges WHERE head_id = tail_id GROUP BY 2
            )
            SELECT * FROM mh UNION ALL SELECT * FROM mt
            UNION ALL SELECT * FROM dup UNION ALL SELECT * FROM sl""",
        "g_metrics_report": _GC + """
            , hd AS (SELECT head_id AS eid, count(*)::BIGINT c FROM edges GROUP BY 1),
            tl AS (SELECT tail_id AS eid, count(*)::BIGINT c FROM edges GROUP BY 1),
            sl AS (SELECT head_id AS eid, count(*)::BIGINT c FROM edges
                   WHERE head_id = tail_id GROUP BY 1),
            deg AS (
              SELECT n.entity_id,
                     (coalesce(hd.c, 0) + coalesce(tl.c, 0) - coalesce(sl.c, 0))::BIGINT AS d
              FROM nodes n LEFT JOIN hd ON n.entity_id = hd.eid
                           LEFT JOIN tl ON n.entity_id = tl.eid
                           LEFT JOIN sl ON n.entity_id = sl.eid
            ),
            ve AS (
              SELECT e.head_id AS a, e.tail_id AS b FROM edges e
              WHERE e.head_id IN (SELECT entity_id FROM nodes)
                AND e.tail_id IN (SELECT entity_id FROM nodes)
            ),
            vsym AS (SELECT a, b FROM ve UNION SELECT b, a FROM ve),
            vreach AS (
              SELECT entity_id, entity_id AS r FROM nodes
              UNION
              SELECT vreach.entity_id, vsym.b FROM vreach JOIN vsym ON vreach.r = vsym.a
            ),
            vcomp AS (SELECT entity_id, min(r) AS component FROM vreach GROUP BY entity_id),
            vcsz AS (SELECT component, count(*)::BIGINT AS sz FROM vcomp GROUP BY component),
            vconn AS (SELECT count(*)::BIGINT AS nc, max(sz)::BIGINT AS largest FROM vcsz),
            mstats AS (SELECT (SELECT count(*) FROM nodes)::BIGINT n,
                              (SELECT count(*) FROM edges)::BIGINT e)
            SELECT 'node_count' AS metric, n::DOUBLE AS value FROM mstats
            UNION ALL SELECT 'edge_count', e::DOUBLE FROM mstats
            UNION ALL SELECT 'density',
              (CASE WHEN n > 1 THEN round(2.0 * e / (n * (n - 1.0)), 4) ELSE 0.0 END)::DOUBLE FROM mstats
            UNION ALL SELECT 'avg_degree', round(avg(d), 2)::DOUBLE FROM deg
            UNION ALL SELECT 'max_degree', max(d)::DOUBLE FROM deg
            UNION ALL SELECT 'min_degree', min(d)::DOUBLE FROM deg
            UNION ALL SELECT 'central_degree:' || entity_id, d::DOUBLE FROM
              (SELECT entity_id, d FROM deg ORDER BY d DESC, entity_id ASC LIMIT 5)
            UNION ALL SELECT 'connected_components', nc::DOUBLE FROM vconn
            UNION ALL SELECT 'largest_component_size', largest::DOUBLE FROM vconn
            UNION ALL SELECT 'is_connected',
              (CASE WHEN nc <= 1 THEN 1 ELSE 0 END)::DOUBLE FROM vconn
            UNION ALL SELECT 'entity_type:' || coalesce(entity_type, '(null)'),
              count(*)::DOUBLE FROM nodes GROUP BY 1
            UNION ALL SELECT 'relation_type:' || coalesce(pred, '(null)'),
              count(*)::DOUBLE FROM edges GROUP BY 1""",
        "v_ann_ivf": """
            WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                       FROM embeddings WHERE vec_id < 16),
            q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            a AS (
              SELECT vec_id, centroid FROM (
                SELECT e.vec_id, c.cid AS centroid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_distance(e.embedding::DOUBLE[], c.cv) ASC,
                                  c.cid ASC) AS rn
                FROM embeddings e, c) WHERE rn = 1
            ),
            probes AS (
              SELECT cid FROM (
                SELECT c.cid, row_number() OVER (
                         ORDER BY list_distance(q.qv, c.cv) ASC, c.cid ASC) AS rn
                FROM c, q) WHERE rn <= 2
            )
            SELECT e.vec_id, a.centroid::INT AS centroid,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 3)::DOUBLE AS score
            FROM embeddings e JOIN a USING (vec_id), q
            WHERE a.centroid IN (SELECT cid FROM probes)
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                     e.vec_id ASC
            LIMIT 15""",
        "v_ann_ivf_hist": """
            WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                       FROM embeddings WHERE vec_id < 16),
            a AS (
              SELECT vec_id, centroid FROM (
                SELECT e.vec_id, c.cid AS centroid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_distance(e.embedding::DOUBLE[], c.cv) ASC,
                                  c.cid ASC) AS rn
                FROM embeddings e, c) WHERE rn = 1
            )
            SELECT centroid::INT AS centroid, count(*)::BIGINT AS n
            FROM a GROUP BY 1""",
        "f6_stream_merge_md5": r"""
            WITH turns AS (
              SELECT 'c' || doc_id::VARCHAR AS conv_id, i.i AS turn_idx,
                     array_to_string(
                       list_slice(string_split(
                         substring(text, i.i * 200 + 1, 200), ' '), 1, 30),
                       ' ') AS t
              FROM documents, (SELECT unnest(generate_series(0, 2)) AS i) i
              WHERE doc_id < 50
            )
            SELECT conv_id, conv_id AS subj,
                   'p' || turn_idx::VARCHAR AS pred, md5(t) AS obj,
                   round(0.5 + turn_idx * 0.1, 1)::DOUBLE AS conf
            FROM turns""",
        "mm_png": r"""
            WITH ids AS (SELECT unnest(generate_series(0, 39)) AS doc),
            dims AS (SELECT unnest(generate_series(0, 15)) AS dim),
            js AS (SELECT unnest(generate_series(0, 3)) AS j),
            px AS (
              SELECT doc, dim,
                     avg(((doc * 7 + (dim * 4 + j) * 13) % 256) / 255.0) AS m
              FROM ids, dims, js GROUP BY doc, dim
            )
            SELECT 'm' || doc::VARCHAR AS media_id,
                   dim::INT AS dim, round(m, 4)::DOUBLE AS v
            FROM px""",
        "v1_render": r"""
            WITH d AS (SELECT doc_id AS k, text FROM documents),
            ents AS (
              SELECT 'e' || k::VARCHAR AS item_id, 'entity' AS kind,
                     concat_ws(' ',
                       substring(text, 1, 20),
                       CASE WHEN length(coalesce(
                              CASE WHEN k % 3 = 0 THEN NULL
                                   WHEN k % 3 = 1 THEN ''
                                   ELSE substring(text, 25, 20) END, '')) > 0
                            THEN substring(text, 25, 20) END,
                       CASE WHEN k % 4 = 0
                            THEN '别名: ' || 'a' || k::VARCHAR || ', ' || 'b' || k::VARCHAR
                       END) AS render_text
              FROM d
            ),
            rels AS (
              SELECT 'r' || k::VARCHAR AS item_id, 'relation' AS kind,
                     CASE WHEN length(joined) > 0 THEN joined
                          ELSE 'related_to' END AS render_text
              FROM (
                SELECT k, concat_ws(' ',
                  CASE WHEN k % 5 <> 0 AND k % 7 <> 0
                       THEN 'h' || k::VARCHAR || ' related_to ' || 't' || k::VARCHAR END,
                  CASE WHEN k % 2 = 0 AND length(substring(text, 40, 15)) > 0
                       THEN substring(text, 40, 15) END) AS joined
                FROM d)
            ),
            chunks AS (
              SELECT 'c' || k::VARCHAR AS item_id, 'chunk' AS kind,
                     concat_ws(' | ',
                       CASE WHEN k % 3 = 0 THEN 'Title: T' || k::VARCHAR END,
                       CASE WHEN length(substring(text, 1, 50)) > 0
                            THEN 'Content: ' || substring(text, 1, 50) END,
                       CASE WHEN k % 2 = 0 THEN 'Source: src' || k::VARCHAR END,
                       'Type: ' || CASE WHEN k % 5 <> 0 THEN 'chunk' ELSE 'paragraph' END,
                       CASE WHEN k % 4 = 0 THEN 'Metadata: k1: v' || k::VARCHAR END
                     ) AS render_text
              FROM d
            )
            SELECT * FROM ents UNION ALL SELECT * FROM rels
            UNION ALL SELECT * FROM chunks""",
        "s7_exports": _GC + r"""
            , n50 AS (SELECT * FROM nodes ORDER BY entity_id LIMIT 50),
            e50 AS (SELECT * FROM edges
                    ORDER BY head_id, tail_id, pred, confidence, source LIMIT 50),
            esc AS (  -- xml.sax.saxutils.escape: & first, then < >
              SELECT entity_id,
                     replace(replace(replace(coalesce(name, ''), '&', '&amp;'),
                             '<', '&lt;'), '>', '&gt;') AS name_x,
                     entity_type FROM n50
            ),
            gml_nodes AS (
              SELECT string_agg('<node id="' || entity_id || '"><data key="d0">'
                       || name_x || '</data><data key="d1">' || entity_type
                       || '</data></node>', chr(10) ORDER BY entity_id) AS s
              FROM esc
            ),
            gml_edges AS (
              SELECT string_agg('<edge source="' || head_id || '" target="'
                       || tail_id || '"><data key="d2">' || pred
                       || '</data><data key="d3">' || confidence::DOUBLE::VARCHAR
                       || '</data></edge>', chr(10)
                       ORDER BY head_id, tail_id, pred, confidence, source) AS s
              FROM e50
            ),
            gml AS (
              SELECT '<?xml version="1.0" encoding="UTF-8"?>' || chr(10)
                || '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">' || chr(10)
                || '<key id="d0" for="node" attr.name="name" attr.type="string"/>' || chr(10)
                || '<key id="d1" for="node" attr.name="entity_type" attr.type="string"/>' || chr(10)
                || '<key id="d2" for="edge" attr.name="pred" attr.type="string"/>' || chr(10)
                || '<key id="d3" for="edge" attr.name="confidence" attr.type="double"/>' || chr(10)
                || '<graph edgedefault="directed">' || chr(10)
                || (SELECT s FROM gml_nodes) || chr(10)
                || (SELECT s FROM gml_edges) || chr(10)
                || '</graph>' || chr(10) || '</graphml>' AS doc
            ),
            cyto AS (
              SELECT '{"elements": ['
                || (SELECT string_agg('{"data": {"id": "' || entity_id
                      || '", "label": "' || name || '", "type": "' || entity_type
                      || '"}}', ', ' ORDER BY entity_id) FROM n50)
                || ', '
                || (SELECT string_agg('{"data": {"source": "' || head_id
                      || '", "target": "' || tail_id || '", "label": "' || pred
                      || '"}}', ', '
                      ORDER BY head_id, tail_id, pred, confidence, source) FROM e50)
                || ']}' AS doc
            ),
            d3 AS (
              SELECT '{"nodes": ['
                || (SELECT string_agg('{"id": "' || entity_id || '", "name": "'
                      || name || '", "group": "' || entity_type || '"}', ', '
                      ORDER BY entity_id) FROM n50)
                || '], "links": ['
                || (SELECT string_agg('{"source": "' || head_id || '", "target": "'
                      || tail_id || '", "type": "' || pred || '", "value": '
                      || confidence::DOUBLE::VARCHAR || '}', ', '
                      ORDER BY head_id, tail_id, pred, confidence, source) FROM e50)
                || ']}' AS doc
            )
            SELECT md5((SELECT doc FROM gml)) AS graphml_md5,
                   length((SELECT doc FROM gml))::BIGINT AS graphml_len,
                   md5((SELECT doc FROM cyto)) AS cyto_md5,
                   length((SELECT doc FROM cyto))::BIGINT AS cyto_len,
                   md5((SELECT doc FROM d3)) AS d3_md5,
                   length((SELECT doc FROM d3))::BIGINT AS d3_len""",
        "kg_chunks_simple": r"""
            WITH RECURSIVE sel AS (
              SELECT doc_id, text,
                     CASE WHEN len(string_split(text, chr(10)||chr(10))) > 1 THEN chr(10)||chr(10)
                          WHEN len(string_split(text, chr(10))) > 1 THEN chr(10)
                          WHEN len(string_split(text, '. ')) > 1 THEN '. '
                          WHEN len(string_split(text, '! ')) > 1 THEN '! '
                          WHEN len(string_split(text, '? ')) > 1 THEN '? '
                          WHEN len(string_split(text, ' ')) > 1 THEN ' '
                     END AS sep
              FROM documents
            ),
            parts0 AS (
              SELECT doc_id, sep,
                     unnest(string_split(text, sep)) AS p,
                     generate_subscripts(string_split(text, sep), 1) AS i,
                     len(string_split(text, sep)) AS n
              FROM sel WHERE sep IS NOT NULL
            ),
            parts AS (
              SELECT doc_id, i, n, CASE WHEN i < n THEN p || sep ELSE p END AS part
              FROM parts0
            ),
            -- greedy packing is inherently sequential per doc: the recursion
            -- consumes part i, either accumulating into cur or flushing it
            -- (word/0.75 approx token count, Python int() == floor here)
            rec AS (
              SELECT doc_id, 1 AS i, n, '' AS cur, CAST(NULL AS VARCHAR) AS emit
              FROM (SELECT DISTINCT doc_id, n FROM parts) s
              UNION ALL
              SELECT r.doc_id, r.i + 1, r.n,
                     CASE WHEN floor(len(regexp_extract_all(r.cur || p.part, '\b\w+\b')) / 0.75) <= 40
                          THEN r.cur || p.part ELSE p.part END,
                     CASE WHEN floor(len(regexp_extract_all(r.cur || p.part, '\b\w+\b')) / 0.75) <= 40
                          THEN NULL
                          WHEN trim(r.cur, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) <> ''
                          THEN trim(r.cur, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12))
                     END
              FROM rec r JOIN parts p ON p.doc_id = r.doc_id AND p.i = r.i
            ),
            chunks0 AS (
              SELECT doc_id, i, 0 AS sub, emit AS content FROM rec WHERE emit IS NOT NULL
              UNION ALL
              SELECT doc_id, i, 1,
                     trim(cur, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12))
              FROM rec
              WHERE i = n + 1
                AND trim(cur, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) <> ''
            ),
            numbered AS (
              SELECT doc_id,
                     (row_number() OVER (PARTITION BY doc_id ORDER BY i, sub) - 1)::INT AS chunk_idx,
                     content,
                     count(*) OVER (PARTITION BY doc_id) AS n_chunks
              FROM chunks0
            )
            SELECT doc_id, chunk_idx,
                   length(content)::BIGINT AS chunk_chars,
                   md5(content) AS chunk_md5,
                   CASE WHEN n_chunks = 1 THEN 'document' ELSE 'chunk' END AS chunk_type
            FROM numbered""",
        "v10_chat_ctx_md5": r"""
            WITH items AS (
              SELECT doc_id::VARCHAR AS item_id, 'text_chunk' AS namespace, text AS txt
              FROM documents
              UNION ALL
              SELECT 'e' || doc_id::VARCHAR, 'entity', substring(text, 1, 40) FROM documents
              UNION ALL
              SELECT 'r' || doc_id::VARCHAR, 'relation', substring(text, 20, 40) FROM documents
              UNION ALL
              SELECT '__query__', 'query', 'table join query'
            ),
            comps AS (
              SELECT item_id, namespace, i,
                     ((('0x' || substring(md5(i::VARCHAR || '#' || txt), 1, 15))::UBIGINT
                        % 2000)::BIGINT - 1000) / 1000.0 AS c
              FROM items CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) dim
            ),
            emb AS (
              SELECT item_id, namespace, list(c ORDER BY i) AS v
              FROM comps GROUP BY item_id, namespace
            ),
            q AS (SELECT v AS qv FROM emb WHERE namespace = 'query'),
            scored AS (
              SELECT e.item_id, e.namespace, i.txt AS content,
                     list_cosine_similarity(v, qv) AS raw
              FROM emb e JOIN items i USING (item_id, namespace), q
              WHERE e.namespace <> 'query' AND list_cosine_similarity(v, qv) >= 0.05
            ),
            hits AS (
              SELECT namespace,
                     row_number() OVER (PARTITION BY namespace
                                        ORDER BY raw DESC, item_id ASC)::INT AS rk,
                     item_id, raw, content
              FROM scored
              QUALIFY rk <= CASE namespace WHEN 'entity' THEN 4
                                           WHEN 'relation' THEN 3 ELSE 6 END
            )
            SELECT namespace, rk, item_id, round(raw, 3)::DOUBLE AS score,
                   CASE WHEN namespace = 'text_chunk'
                        THEN '文本片段 ' || rk::VARCHAR || ': ' ||
                             substring(content, 1, 200) || '...'
                   END AS line
            FROM hits""",
        "v11_search_modes": r"""
            WITH items AS (
              SELECT 'e' || doc_id::VARCHAR AS item_id, 'entity' AS namespace,
                     substring(text, 1, 40) AS txt FROM documents
              UNION ALL
              SELECT 'r' || doc_id::VARCHAR, 'relation', substring(text, 20, 40)
              FROM documents
              UNION ALL
              SELECT doc_id::VARCHAR, 'text_chunk', text FROM documents
              UNION ALL
              SELECT '__query__', 'query', 'table join query'
            ),
            comps AS (
              SELECT item_id, namespace, i,
                     ((('0x' || substring(md5(i::VARCHAR || '#' || txt), 1, 15))::UBIGINT
                        % 2000)::BIGINT - 1000) / 1000.0 AS c
              FROM items CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) dim
            ),
            emb AS (
              SELECT item_id, namespace, list(c ORDER BY i) AS v
              FROM comps GROUP BY item_id, namespace
            ),
            q AS (SELECT v AS qv FROM emb WHERE namespace = 'query'),
            scored AS (
              SELECT item_id, namespace, list_cosine_similarity(v, qv) AS raw
              FROM emb, q WHERE namespace <> 'query'
            ),
            struct_edges AS (
              SELECT 'r' || doc_id::VARCHAR AS edge_id,
                     'e' || doc_id::VARCHAR AS head_id,
                     'e' || (doc_id % 50)::VARCHAR AS tail_id
              FROM documents
            ),
            links AS (
              SELECT doc_id::VARCHAR AS chunk_id,
                     'e' || ((doc_id * 3) % 100)::VARCHAR AS entity_id
              FROM documents
            ),
            seed_e AS (
              SELECT item_id AS entity_id, raw FROM scored WHERE namespace = 'entity'
              QUALIFY row_number() OVER (ORDER BY raw DESC, item_id ASC) <= 5
            ),
            seed_r AS (
              SELECT item_id AS edge_id, raw FROM scored WHERE namespace = 'relation'
              QUALIFY row_number() OVER (ORDER BY raw DESC, item_id ASC) <= 5
            ),
            local_all AS (
              SELECT entity_id AS item_id, 'entity' AS namespace, raw FROM seed_e
              UNION ALL
              SELECT se.edge_id, 'relation', max(s.raw)
              FROM struct_edges se JOIN seed_e s
                ON se.head_id = s.entity_id OR se.tail_id = s.entity_id
              GROUP BY se.edge_id
              UNION ALL
              SELECT l.chunk_id, 'text_chunk', max(s.raw)
              FROM links l JOIN seed_e s ON l.entity_id = s.entity_id
              GROUP BY l.chunk_id
            ),
            global_ends AS (
              SELECT u.entity_id, max(s.raw) AS raw
              FROM (SELECT edge_id, head_id AS entity_id FROM struct_edges
                    UNION ALL
                    SELECT edge_id, tail_id FROM struct_edges) u
              JOIN seed_r s ON u.edge_id = s.edge_id
              GROUP BY u.entity_id
            ),
            global_all AS (
              SELECT edge_id AS item_id, 'relation' AS namespace, raw FROM seed_r
              UNION ALL
              SELECT entity_id, 'entity', raw FROM global_ends
              UNION ALL
              SELECT l.chunk_id, 'text_chunk', max(g.raw)
              FROM links l JOIN global_ends g ON l.entity_id = g.entity_id
              GROUP BY l.chunk_id
            ),
            u AS (
              SELECT item_id, namespace, raw, 'local' AS origin FROM local_all
              UNION ALL
              SELECT item_id, namespace, raw, 'global' FROM global_all
            )
            SELECT item_id, namespace, round(raw, 3)::DOUBLE AS score, origin
            FROM u
            QUALIFY row_number() OVER (PARTITION BY namespace, item_id
                                       ORDER BY raw DESC, origin DESC) = 1""",
        "v8_union_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            u AS (
              SELECT 'e' || vec_id AS item_id, 'entity' AS namespace,
                     embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 3 = 0
              UNION ALL
              SELECT 'r' || vec_id, 'relation', embedding::DOUBLE[]
              FROM embeddings WHERE vec_id % 3 = 1
              UNION ALL
              SELECT 'c' || vec_id, 'text_chunk', embedding::DOUBLE[]
              FROM embeddings WHERE vec_id % 3 = 2
            ),
            scored AS (
              SELECT item_id, namespace, list_cosine_similarity(v, qv) AS score
              FROM u, q
            )
            SELECT item_id, namespace, round(score, 3)::DOUBLE AS score
            FROM scored
            QUALIFY row_number() OVER (PARTITION BY namespace
                                       ORDER BY score DESC, item_id ASC) <= 7""",
        "v9_expand": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            u AS (
              SELECT 'e' || vec_id AS item_id, 'entity' AS namespace,
                     embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 3 = 0
              UNION ALL
              SELECT 'r' || vec_id, 'relation', embedding::DOUBLE[]
              FROM embeddings WHERE vec_id % 3 = 1
              UNION ALL
              SELECT 'c' || vec_id, 'text_chunk', embedding::DOUBLE[]
              FROM embeddings WHERE vec_id % 3 = 2
            ),
            topk AS (
              SELECT item_id, namespace,
                     round(list_cosine_similarity(v, qv), 3) AS score
              FROM u, q
              QUALIFY row_number() OVER (PARTITION BY namespace
                                         ORDER BY list_cosine_similarity(v, qv) DESC,
                                                  item_id ASC) <= 7
            ),
            hits AS (SELECT item_id AS entity_id, score FROM topk WHERE namespace = 'entity'),
            links AS (
              SELECT DISTINCT 'ch' || (doc_id % 40) AS chunk_id,
                     'e' || (3 * (doc_id % 166)) AS entity_id
              FROM documents
            ),
            linked AS (SELECT chunk_id, score FROM links JOIN hits USING (entity_id))
            SELECT chunk_id,
                   round(avg(score) * (1 + ln(1 + count(*)) / 10.0), 9)::DOUBLE AS relevance,
                   count(*)::BIGINT AS n_connections
            FROM linked GROUP BY chunk_id
            ORDER BY relevance DESC, chunk_id ASC LIMIT 10""",
        "g_conf_stats": _GC + """
            SELECT round(avg(confidence), 6)::DOUBLE AS avg_entity_conf,
                   min(confidence)::DOUBLE AS min_entity_conf,
                   (SELECT round(avg(confidence), 6) FROM edges)::DOUBLE AS avg_relation_conf,
                   (SELECT min(confidence) FROM edges)::DOUBLE AS min_relation_conf
            FROM nodes""",
        "d2_weighted_sim": r"""
            WITH a AS (SELECT p_partkey AS k, lower(p_name) AS name_a FROM part),
            b AS (SELECT p_partkey - 1 AS k, lower(p_name) AS name_b FROM part),
            pairs AS (SELECT a.k, name_a, name_b FROM a JOIN b USING (k)),
            scored AS (
              SELECT k, name_a, name_b,
                     CASE WHEN name_a = name_b THEN 1.0
                          WHEN strpos(name_a, name_b) > 0 OR strpos(name_b, name_a) > 0 THEN 0.8
                          ELSE 1.0 - levenshtein(name_a, name_b)
                               / greatest(length(name_a), length(name_b))::DOUBLE
                     END AS name_sim,
                     list_distinct(str_split_regex(name_a, '\s+')) AS wa,
                     list_distinct(str_split_regex(name_b, '\s+')) AS wb
              FROM pairs
            )
            SELECT k, name_a, name_b, round(name_sim, 6)::DOUBLE AS name_sim,
                   round(0.4 * (CASE WHEN len(wa) = 0 AND len(wb) = 0 THEN 1.0
                                     WHEN len(wa) = 0 OR len(wb) = 0 THEN 0.0
                                     ELSE len(list_intersect(wa, wb))
                                          / len(list_distinct(wa || wb))::DOUBLE END)
                       + 0.2 * 1.0 + 0.2 * 1.0 + 0.2 * 1.0, 6)::DOUBLE AS weighted_sim
            FROM scored""",
        "f2_relation_filter": _GC + """
            SELECT head_id, tail_id, pred, confidence::DOUBLE AS confidence
            FROM edges WHERE head_id = 'R0' AND pred = 'contains'""",
        "v_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], qv) AS score
              FROM embeddings, q
            )
            SELECT vec_id, round(score, 3)::DOUBLE AS score
            FROM scored ORDER BY score DESC, vec_id ASC LIMIT 15""",
        "v5_filtered": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], qv) AS score
              FROM embeddings, q WHERE vec_id % 3 = 0
            )
            SELECT vec_id, round(score, 3)::DOUBLE AS score
            FROM scored ORDER BY score DESC, vec_id ASC LIMIT 7""",
        "v7_recommend": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 5),
            scored AS (
              SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], qv) AS score
              FROM embeddings, q WHERE vec_id <> 5
            )
            SELECT vec_id, round(score, 3)::DOUBLE AS score
            FROM scored ORDER BY score DESC, vec_id ASC LIMIT 10""",
        "f5_setunion": """
            SELECT o_orderpriority,
                   array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
                     AS statuses
            FROM orders GROUP BY o_orderpriority""",
        "e4_model": r"""
            WITH caps AS (
              SELECT doc_id::VARCHAR AS conv_id,
                     replace(replace(text, 'table', 'Alice Johnson'),
                             'spark', 'Acme Corp') AS text
              FROM documents),
            raw AS (
              SELECT conv_id,
                     unnest(regexp_extract_all(
                       text, '\b[A-Z][a-z]+(?: [A-Z][a-z]+)+\b')) AS name
              FROM caps),
            names AS (SELECT DISTINCT conv_id, name FROM raw)
            SELECT conv_id, name, lower(name) AS name_norm,
                   CASE WHEN name LIKE '%Corp' OR name LIKE '%Inc'
                         OR name LIKE '%Ltd' OR name LIKE '%Company'
                         OR name LIKE '%Organization'
                        THEN 'organization' ELSE 'person' END AS entity_type,
                   'entity_' || substring(md5(name), 1, 8) AS entity_id
            FROM names""",
        "e8_model": r"""
            WITH caps AS (
              SELECT doc_id::VARCHAR AS conv_id,
                     replace(text, 'table',
                             'Bob Smith works for Initech Corp') AS text
              FROM documents),
            m AS (
              SELECT conv_id,
                     regexp_extract_all(text,
                       '([A-Z][a-z]+ [A-Z][a-z]+) works for ([A-Z][\w ]*?(?:Corp|Inc|Ltd))',
                       1) AS hs,
                     regexp_extract_all(text,
                       '([A-Z][a-z]+ [A-Z][a-z]+) works for ([A-Z][\w ]*?(?:Corp|Inc|Ltd))',
                       2) AS ts
              FROM caps),
            pairs AS (SELECT conv_id, unnest(hs) AS h, unnest(ts) AS t FROM m),
            rels AS (
              SELECT DISTINCT conv_id, lower(h) AS subj,
                     'works_for' AS pred, lower(t) AS obj
              FROM pairs WHERE lower(h) <> lower(t))
            SELECT conv_id, subj, pred, obj, 0.9::DOUBLE AS conf,
                   'relation_' || substring(
                     md5(subj || '_' || pred || '_' || obj), 1, 8) AS relation_id
            FROM rels""",
        "d4_verify": """
            WITH pairs AS (
              SELECT s_name AS name_a, s_name AS name_b FROM supplier
              UNION ALL
              SELECT s_name, s_name || '_v2' FROM supplier
              UNION ALL
              SELECT s_name, reverse(s_name) FROM supplier),
            simed AS (
              SELECT name_a, name_b,
                     CASE WHEN name_a = name_b THEN 1.0
                          WHEN instr(name_a, name_b) > 0
                            OR instr(name_b, name_a) > 0 THEN 0.8
                          ELSE 1.0 - levenshtein(name_a, name_b)::DOUBLE
                               / greatest(length(name_a), length(name_b))
                     END AS sim
              FROM pairs)
            SELECT name_a, name_b, round(sim, 3)::DOUBLE AS name_sim,
                   (sim >= 0.8 OR name_a = name_b) AS is_duplicate
            FROM simed""",
        "f3_chunks": """
            SELECT doc_id::VARCHAR AS chunk_id, 'paragraph' AS chunk_type
            FROM documents
            WHERE doc_id % 2 = 0 AND instr(lower(text), 'spark') > 0""",
        "d7_chain": """
            WITH grp AS (
              SELECT 'e' || doc_id::VARCHAR AS entity_id,
                     'g' || (doc_id % 40)::VARCHAR AS g
              FROM documents WHERE doc_id % 4 = 0),
            m AS (SELECT g, min(entity_id) AS canonical_id FROM grp GROUP BY g)
            SELECT grp.entity_id, m.canonical_id
            FROM grp JOIN m USING (g)
            WHERE grp.entity_id <> m.canonical_id""",
        "tpch_seg_month": """
            SELECT c_mktsegment, month(o_orderdate)::INT AS order_month,
                   count(*)::BIGINT AS n_orders,
                   round(sum(o_totalprice), 2)::DOUBLE AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment, month(o_orderdate)""",
    }
