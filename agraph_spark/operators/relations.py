"""Relation extraction: pattern relations, co-occurrence, endpoint
resolution, validation, and the canonical triples projection.

Spark restatement of TextRelationExtractor
(/root/reference/agraph/extractors/relation_extractor.py:285-487):

- E5 pattern candidates: ``mapInPandas`` kernel, pandas ``str.extractall``
  per relation pattern (two capture groups -> head/tail text), vectorized
  per Arrow batch.
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

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import patterns as P
from ..caching import track
from ..schemas import REL_CANDIDATES

# Python str.strip() strips unicode whitespace; (?U) makes Java \s match it too
_TRIM = r"(?U)^\s+|\s+$"


def _candidates_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-line extraction with literal-anchor prefilter.

    Exactly equivalent to whole-document ``finditer`` (no relation pattern
    spans a newline) but keeps the backtracking '(.+?)...(.+)' patterns off
    lines that can't match — the difference between O(doc_len^2) and
    O(line_len^2 on matching lines only)."""
    compiled = P.compiled_relation_patterns()
    for pdf in batches:
        if len(pdf) == 0:
            continue
        lines = pdf["text"].fillna("").str.split("\n").explode()
        convs = pdf["conv_id"].loc[lines.index].reset_index(drop=True)
        lines = lines.fillna("").reset_index(drop=True)
        outs = []
        for pred, rx, anchor in compiled:
            mask = lines.str.contains(anchor, regex=True, na=False)
            if not mask.any():
                continue
            m = lines[mask].str.extractall(rx)
            if m.empty:
                continue
            head = m[0].str.strip().str.lower()
            tail = m[1].str.strip().str.lower()
            row_labels = m.index.get_level_values(0)
            outs.append(
                pd.DataFrame(
                    {
                        "conv_id": convs.loc[row_labels].to_numpy(),
                        "pred": pred,
                        "head_text": head.to_numpy(),
                        "tail_text": tail.to_numpy(),
                    }
                )
            )
        if outs:
            yield pd.concat(outs, ignore_index=True)


def extract_relation_candidates(documents: DataFrame) -> DataFrame:
    """E5: raw (head_text, pred, tail_text) capture-group rows."""
    return documents.select("conv_id", "text").mapInPandas(
        _candidates_kernel, schema=REL_CANDIDATES
    )


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


def extract_relations(documents: DataFrame, entities: DataFrame) -> DataFrame:
    """E5+E6+E9 composed: validated relation rows."""
    pat = pattern_relations(extract_relation_candidates(documents), entities)
    coo = cooccurrence_relations(documents, entities)
    return validate_relations(pat.unionByName(coo))


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
