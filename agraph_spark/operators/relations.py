"""Relation endpoint resolution, co-occurrence, validation and the
canonical triples projection as Spark joins.

The library's relation extraction runs in the fused kernel
(operators/fused.py: E5 candidates and E7/E6/E9/D11 per conversation).
These operators restate the per-conversation steps as conv_id joins over
an entity table; perfbench's traced build and the tests' join-form oracle
(tests/test_parity_reference.py) run them, and the entry's sentence
queries read ``split_sentences``. Reference: TextRelationExtractor
(/root/reference/agraph/extractors/relation_extractor.py:285-487):

- E7 endpoint resolution: DISTINCT candidate texts joined against the
  per-conversation entity set; rank = exact match first, then first entity
  in emission order satisfying substring-either-direction containment
  (relation_extractor.py:420-445). A join + window, not a loop.
- E6 co-occurrence: sentence posexplode × entity containment join, then a
  per-sentence self-join with ``a.entity_order < b.entity_order`` pairing
  (relation_extractor.py:447-487).
- E9 validation: column predicate over the (head_type, tail_type, pred)
  whitelist + relaxed predicates + conf >= 0.5 + head != tail
  (relation_extractor.py:57-78, 107-145).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import patterns as P
from ..caching import track

# Python str.strip() strips unicode whitespace; (?U) makes Java \s match it too
_TRIM = r"(?U)^\s+|\s+$"


def resolve_mentions(mention_texts: DataFrame, entities: DataFrame) -> DataFrame:
    """E7: map (conv_id, text) -> winning entity.

    Reference semantics (relation_extractor.py:420-445): exact dict lookup on
    lower(name) wins outright; otherwise the FIRST entity in insertion order
    with ``text in entity_name or entity_name in text`` (empty text therefore
    matches the first entity). Returns
    (conv_id, text, ent_norm, ent_type, ent_order).
    """
    j = mention_texts.join(entities, "conv_id")
    text, name = F.col("text"), F.col("name_norm")
    is_exact = text == name
    is_fuzzy = (
        (F.instr(name, text) > 0)
        | (F.instr(text, name) > 0)
        | (F.length(text) == 0)  # '' in entity_name is True in Python
    )
    j = j.where(is_exact | is_fuzzy).withColumn(
        "rank_exact", F.when(is_exact, 0).otherwise(1)
    )
    w = Window.partitionBy("conv_id", "text").orderBy("rank_exact", "entity_order")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "conv_id",
            "text",
            F.col("name_norm").alias("ent_norm"),
            F.col("entity_type").alias("ent_type"),
            F.col("entity_order").alias("ent_order"),
        )
    )


def pattern_relations(candidates: DataFrame, entities: DataFrame) -> DataFrame:
    """E5+E7: resolve both endpoints; drop candidates with an unresolved side
    (relation_extractor.py:400). conf fixed 0.7."""
    texts = (
        candidates.select("conv_id", F.col("head_text").alias("text"))
        .unionByName(candidates.select("conv_id", F.col("tail_text").alias("text")))
        .distinct()
    )
    # consumed twice (head + tail joins): persist so the fuzzy-containment
    # cartesian join runs once, not once per side; eager count so the two
    # join branches don't RACE to build the same cached partitions (r6)
    res = track(resolve_mentions(texts, entities))
    res.count()
    h = res.select(
        "conv_id",
        F.col("text").alias("head_text"),
        F.col("ent_norm").alias("head_norm"),
        F.col("ent_type").alias("head_type"),
    )
    t = res.select(
        "conv_id",
        F.col("text").alias("tail_text"),
        F.col("ent_norm").alias("tail_norm"),
        F.col("ent_type").alias("tail_type"),
    )
    return (
        candidates.join(h, ["conv_id", "head_text"])
        .join(t, ["conv_id", "tail_text"])
        .select(
            "conv_id",
            "head_norm",
            "head_type",
            "pred",
            "tail_norm",
            "tail_type",
            F.lit(P.PATTERN_RELATION_CONFIDENCE).alias("conf"),
        )
    )


def split_sentences(documents: DataFrame) -> DataFrame:
    """Sentence rows (conv_id, sent_idx, sent): split on [.!?]+, python-strip,
    lower, drop empties (relation_extractor.py:461-466)."""
    return (
        documents.select(
            "conv_id",
            F.posexplode(F.split(F.col("text"), P.SENTENCE_SPLIT_REGEX)).alias(
                "sent_idx", "sent_raw"
            ),
        )
        .withColumn("sent", F.lower(F.regexp_replace(F.col("sent_raw"), _TRIM, "")))
        .where(F.length("sent") > 0)
        .drop("sent_raw")
    )


def cooccurrence_relations(documents: DataFrame, entities: DataFrame) -> DataFrame:
    """E6: entities co-occurring in a sentence -> RELATED_TO pairs, ordered by
    emission order (i < j), conf 0.5 (relation_extractor.py:447-487)."""
    sents = split_sentences(documents)
    # persist: the self-join below would otherwise evaluate the
    # sentence x entity containment join once per side
    hits = sents.join(entities, "conv_id").where(
        F.instr(F.col("sent"), F.col("name_norm")) > 0
    ).select("conv_id", "sent_idx", "name_norm", "entity_type", "entity_order")
    hits = track(hits)
    hits.count()  # eager: the self-join's two sides otherwise race (r6)
    a = hits.alias("a")
    b = hits.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.conv_id") == F.col("b.conv_id"),
                F.col("a.sent_idx") == F.col("b.sent_idx"),
                F.col("a.entity_order") < F.col("b.entity_order"),
            ],
        )
        .select(
            F.col("a.conv_id").alias("conv_id"),
            F.col("a.name_norm").alias("head_norm"),
            F.col("a.entity_type").alias("head_type"),
            F.lit("related_to").alias("pred"),
            F.col("b.name_norm").alias("tail_norm"),
            F.col("b.entity_type").alias("tail_type"),
            F.lit(P.COOCCURRENCE_CONFIDENCE).alias("conf"),
        )
    )


def validate_relations(relations: DataFrame) -> DataFrame:
    """E9: head != tail, conf >= 0.5, and (head_type, tail_type, pred) in the
    whitelist OR pred relaxed (relation_extractor.py:57-78, 107-145)."""
    combo = F.concat_ws("|", "head_type", "tail_type", "pred")
    valid_combo = combo.isin(["|".join(c) for c in P.VALID_COMBOS])
    relaxed = F.col("pred").isin(P.RELAXED_PREDS)
    return relations.where(
        (F.col("head_norm") != F.col("tail_norm"))
        & (F.col("conf") >= P.CONFIDENCE_THRESHOLD)
        & (valid_combo | relaxed)
    )


def to_triples(relations: DataFrame) -> DataFrame:
    """D11: canonical deduplicated (subj, pred, obj) per conversation; the
    parity surface. Names are lowercase-normalized (the reference's relation
    id md5(head,type,tail) collapse, llm_relation_extractor.py:262-267)."""
    return (
        relations.select(
            "conv_id",
            F.col("head_norm").alias("subj"),
            "pred",
            F.col("tail_norm").alias("obj"),
            "conf",
        )
        .groupBy("conv_id", "subj", "pred", "obj")
        .agg(F.max("conf").alias("conf"))
    )
