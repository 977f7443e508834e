"""Graph assembly guards + integrity/consistency/quality checks
(SURVEY.md §2.6, G1-G7).

Reference: KnowledgeGraph.add_relation referential guard
(/root/reference/agraph/graph.py:66-90), GraphValidator
(agraph/services/graph_validator.py:138-215, 329-383), and
validate_graph_consistency (agraph/utils.py:400-466). All anti-joins,
semi-joins and grouped counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enforce_referential_integrity(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """G1: keep only edges whose both endpoints exist (graph.py:66-90,
    llm_builders.py:695-718). Two semi-joins against the node-id set."""
    ids = nodes.select(F.col("entity_id"))
    return (
        edges.join(ids.withColumnRenamed("entity_id", "head_id"), "head_id", "left_semi")
        .join(ids.withColumnRenamed("entity_id", "tail_id"), "tail_id", "left_semi")
    )


def cascade_delete_entities(edges: DataFrame, deleted_ids: DataFrame) -> DataFrame:
    """G2: removing entities drops all incident edges (graph.py:109-138)."""
    d = deleted_ids.select(F.col("entity_id"))
    return (
        edges.join(d.withColumnRenamed("entity_id", "head_id"), "head_id", "left_anti")
        .join(d.withColumnRenamed("entity_id", "tail_id"), "tail_id", "left_anti")
    )


def dangling_edges(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """G5: edges referencing a missing head or tail (high severity,
    graph_validator.py:138-215). Returns edge rows + which side dangles."""
    ids = nodes.select("entity_id")
    missing_head = edges.join(
        ids.withColumnRenamed("entity_id", "head_id"), "head_id", "left_anti"
    ).withColumn("dangling_side", F.lit("head"))
    missing_tail = edges.join(
        ids.withColumnRenamed("entity_id", "tail_id"), "tail_id", "left_anti"
    ).withColumn("dangling_side", F.lit("tail"))
    return missing_head.unionByName(missing_tail)


def duplicate_name_type(nodes: DataFrame) -> DataFrame:
    """G5 medium severity: duplicate (lower(name), entity_type) signatures
    (graph_validator.py:180-215)."""
    return (
        nodes.groupBy(F.lower(F.col("name")).alias("name_norm"), "entity_type")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
    )


def duplicate_edge_signature(edges: DataFrame) -> DataFrame:
    """G6: duplicate (head_id, tail_id, pred) relations (utils.py:400-466)."""
    return (
        edges.groupBy("head_id", "tail_id", "pred")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
    )


def self_loops(edges: DataFrame) -> DataFrame:
    """G6: head == tail (utils.py:441-466)."""
    return edges.where(F.col("head_id") == F.col("tail_id"))


def low_confidence(nodes: DataFrame, edges: DataFrame, threshold: float = 0.5) -> DataFrame:
    """G7: entities/relations under the confidence floor
    (graph_validator.py:329-383)."""
    n = nodes.where(F.col("confidence") < threshold).select(
        F.col("entity_id").alias("item_id"), F.lit("entity").alias("kind"), "confidence"
    )
    e = edges.where(F.col("confidence") < threshold).select(
        F.col("edge_id").alias("item_id"), F.lit("relation").alias("kind"), "confidence"
    )
    return n.unionByName(e)


def empty_names(nodes: DataFrame) -> DataFrame:
    """G7: entities with empty/whitespace names."""
    return nodes.where(F.trim(F.col("name")) == "")


def basic_statistics(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A1: entity/relation counts (graph.py:406-418)."""
    n = nodes.agg(F.count("*").alias("entity_count"))
    e = edges.agg(F.count("*").alias("relation_count"))
    return n.crossJoin(e)


def consistency_issues(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """The reference's COMPOSITE consistency report
    (validate_graph_consistency, utils.py:400-466) as one
    (issue_type, item, n) frame, semantics preserved:
    - missing_head_entity / missing_tail_entity: per edge signature whose
      endpoint id is not an entity (n = occurrences of that signature);
    - duplicate_relation: per (head, tail, pred) signature seen more than
      once, n = count - 1 (the reference flags every occurrence AFTER the
      first; which physical row is 'the duplicate' is dict-insertion
      order there, so the count per signature is the stable projection);
      dangling endpoints still participate (the reference only requires
      the entity OBJECTS to exist, not graph membership);
    - self_loop: per entity with head == tail edges, n = loop count.
    """
    ids = nodes.select("entity_id")
    # concat_ws silently SKIPS nulls (signatures would collide and diverge
    # from the ||-based oracle) — coalesce every part to a sentinel
    sig = F.concat_ws("|", *[
        F.coalesce(F.col(c), F.lit("(null)")) for c in ("head_id", "tail_id", "pred")
    ])
    mh = (
        edges.join(ids.withColumnRenamed("entity_id", "head_id"), "head_id", "left_anti")
        .groupBy(sig.alias("item")).agg(F.count("*").alias("n"))
        .select(F.lit("missing_head_entity").alias("issue_type"), "item", "n")
    )
    mt = (
        edges.join(ids.withColumnRenamed("entity_id", "tail_id"), "tail_id", "left_anti")
        .groupBy(sig.alias("item")).agg(F.count("*").alias("n"))
        .select(F.lit("missing_tail_entity").alias("issue_type"), "item", "n")
    )
    dup = (
        edges.groupBy(sig.alias("item")).agg((F.count("*") - 1).alias("n"))
        .where(F.col("n") > 0)
        .select(F.lit("duplicate_relation").alias("issue_type"), "item", "n")
    )
    sl = (
        edges.where(F.col("head_id") == F.col("tail_id"))
        .groupBy(F.col("head_id").alias("item")).agg(F.count("*").alias("n"))
        .select(F.lit("self_loop").alias("issue_type"), "item", "n")
    )
    return mh.unionByName(mt).unionByName(dup).unionByName(sl)
