"""Generated code is reused across identical operations.

Spark caches compiled classes by their generated source, JVM-wide, in an
LRU of ``spark.sql.codegen.cache.maxEntries``. One build + write + dedup
cycle needs more classes than the default 100 holds, so there every
repeat of the cycle recompiles byte-identical source. ``session.get_spark``
sizes the cache for the working set and keeps AQE's stage numbering out of
class names; this pins that a repeated cycle compiles nothing.
"""

from __future__ import annotations


def _compiled(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _cycle(spark, out_dir):
    from agraph_spark.caching import release_caches
    from agraph_spark.io import write_graph
    from agraph_spark.materialize import materialize_graph
    from agraph_spark.operators.dedup_docs import minhash_lsh_pairs, ngram_jaccard_pairs
    from agraph_spark.pipeline import build_kg
    from agraph_spark.session import local_df
    from agraph_spark.synth import transcripts_df

    b = build_kg(transcripts_df(spark, n_convs=8, seed=5))
    nodes, edges = materialize_graph(b.entities, b.triples)
    write_graph(nodes, edges, out_dir)
    # a local table has static statistics: with a pickled-RDD input, AQE
    # picks the self-join's build side from whichever side finishes first,
    # a timing-dependent plan whose first appearance compiles new classes
    docs = local_df(
        spark, [(i, " ".join(f"w{(i * 7 + j) % 40}" for j in range(30))) for i in range(20)],
        "doc_id long, text string")
    ngram_jaccard_pairs(docs, threshold=0.2).collect()
    minhash_lsh_pairs(docs, threshold=0.3).count()
    release_caches(spark)


def test_repeated_cycle_compiles_no_classes(spark, tmp_path):
    _cycle(spark, str(tmp_path / "first"))
    before = _compiled(spark)
    _cycle(spark, str(tmp_path / "second"))
    assert _compiled(spark) - before == 0
