"""Global graph materialization: per-conversation extraction -> deduplicated
nodes/edges tables with content-hash ids and lineage.

Reference semantics: the LLM path derives idempotent ids from content
hashes (entity id = "entity_" + md5(name)[:8],
llm_entity_extractor.py:346-350; relation id = md5(head_type_tail),
llm_relation_extractor.py:262-267) so repeated/resumed runs collapse to the
same rows — we use full md5 of the normalized content. Cross-conversation
merge follows GraphMergerMixin.merge_graphs (mixins.py:42-96): align by
normalized name, first-seen-wins on the representative surface form (here
with an explicit deterministic order: (conv_id, entity_order)), max
confidence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def entity_id_col(name_norm: str = "name_norm") -> F.Column:
    return F.md5(F.concat(F.lit("entity|"), F.col(name_norm)))


def build_nodes(entities: DataFrame) -> DataFrame:
    """Per-conversation entities -> global nodes keyed by md5(name_norm).

    The shuffle key is name_norm — hot entities ("acme corp" in 30% of
    conversations) make this the skewed aggregation; partial aggregation
    (map-side combine) absorbs it, AQE splits any residual straggler."""
    return (
        entities.groupBy("name_norm")
        .agg(
            F.min_by(
                F.struct("name", "entity_type"), F.struct("conv_id", "entity_order")
            ).alias("first"),
            F.max("confidence").alias("confidence"),
            F.count("*").alias("n_mentions"),
        )
        .select(
            entity_id_col().alias("entity_id"),
            F.col("first.name").alias("name"),
            "name_norm",
            F.col("first.entity_type").alias("entity_type"),
            F.lit("").alias("description"),
            F.array().cast("array<string>").alias("aliases"),
            "confidence",
            F.lit("text_extraction").alias("source"),
            "n_mentions",
            F.lit("").alias("lineage"),
        )
    )


def build_edges(triples: DataFrame) -> DataFrame:
    """Triples -> global edges with content-hash ids and FK columns."""
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.max("conf").alias("confidence"), F.count("*").alias("n_support"))
        .select(
            F.md5(F.concat_ws("|", "subj", "pred", "obj")).alias("edge_id"),
            entity_id_col("subj").alias("head_id"),
            entity_id_col("obj").alias("tail_id"),
            "pred",
            "confidence",
            F.lit("text_extraction").alias("source"),
            "n_support",
            F.lit("").alias("lineage"),
        )
    )


def materialize_graph(
    entities: DataFrame,
    triples: DataFrame,
    alias_dict: DataFrame | None = None,
    link: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """nodes + edges with optional entity linking / canonicalization:
    D3 blocking -> D4 verify -> D5 components -> D6 repoint -> G1
    referential integrity."""
    from .caching import track
    from .operators.integrity import enforce_referential_integrity
    from .operators.linking import link_entities, merge_nodes, repoint_edges

    nodes = build_nodes(entities)
    edges = build_edges(triples)
    if link:
        nodes = track(nodes)
        mapping = track(link_entities(nodes, alias_dict=alias_dict))
        edges = repoint_edges(edges, mapping)
        nodes = merge_nodes(nodes, mapping)
    nodes = track(nodes)
    edges = enforce_referential_integrity(nodes, edges)
    return nodes, edges
