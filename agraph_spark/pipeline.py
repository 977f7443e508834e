"""End-to-end KG construction pipeline: transcripts -> triples/entities/docs.

Mirrors the reference flagship path ``builder.build_graph(texts)``
(/root/reference/agraph/builders/llm_builders.py:1035-1097) restated as one
declarative DataFrame plan (SURVEY.md §3.1):

  transcripts --reassemble shuffle--> documents --mapInPandas kernel-->
  per-conversation (entities, candidates, triples) arrays --explode-->
  entities / triples

Every stage is a DataFrame; Catalyst handles pushdown/pruning, AQE handles
skew. The Python code runs once per Arrow batch in one kernel pass.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .caching import track
from .operators.extraction import extract_entities
from .operators.fused import extract_documents_fused, extract_documents_fused_grouped
from .operators.reassemble import reassemble_conversations
from .operators.relations import extract_relations, to_triples


@dataclass
class KGBuild:
    """``relations`` holds the validated relation rows before the triple
    dedup in "modular" mode; the kernel modes dedup inside the kernel, so
    there it is the same frame as ``triples``."""

    documents: DataFrame
    entities: DataFrame
    relations: DataFrame
    triples: DataFrame


def _kernel_entities(extracted: DataFrame) -> DataFrame:
    return extracted.select("conv_id", F.explode("ents").alias("e")).select(
        "conv_id", "e.name", "e.name_norm", "e.entity_type", "e.confidence",
        "e.entity_order",
    )


def _kernel_triples(extracted: DataFrame) -> DataFrame:
    return extracted.select("conv_id", F.explode("triples").alias("t")).select(
        "conv_id", "t.subj", "t.pred", "t.obj", "t.conf"
    )


def build_kg(
    transcripts: DataFrame, cache_documents: bool = True, mode: str = "fused"
) -> KGBuild:
    """Run the deterministic extraction pipeline over a transcripts table.

    Modes (all held to exact reference parity by the test suite):
    - "fused" (default): reassembly shuffle, then ALL per-conversation work
      — mentions, confidence, keywords, entity dedup, relation candidates,
      endpoint resolution, sentence co-occurrence, validation and the
      triple dedup — in ONE mapInPandas pass emitting per-conversation
      arrays (operators/fused.py). Entities and triples are narrow explodes
      of the cached kernel output; the reassembly is the build's only
      shuffle.
    - "grouped": the same kernel, with reassembly folded into one
      groupBy(hash bucket).applyInPandas exchange — no JVM
      collect_list/array_sort aggregation before the Arrow transfer.
      Measured comparison in PLANS.md (round 3).
    - "modular": every stage as an individually-tested Spark operator
      (two Python passes, conv_id joins and per-stage shuffles).
    """
    if mode not in ("fused", "grouped", "modular"):
        raise ValueError(f"unknown build_kg mode {mode!r}")
    if mode in ("fused", "grouped"):
        if mode == "grouped":
            extracted = extract_documents_fused_grouped(transcripts)
        else:
            extracted = extract_documents_fused(reassemble_conversations(transcripts))
        if cache_documents:
            extracted = track(extracted)
            # eager: entities and triples both read this cache, and a job
            # that consumes both (materialize_graph's integrity join) would
            # otherwise run the kernel twice per partition, racing to build it
            extracted.count()
        # documents is the persisted kernel output, for unpersist() by callers
        triples = _kernel_triples(extracted)
        return KGBuild(extracted, _kernel_entities(extracted), triples, triples)
    documents = reassemble_conversations(transcripts)
    if cache_documents:
        documents = track(documents)
    entities = extract_entities(documents)
    if cache_documents:
        entities = track(entities)
    relations = extract_relations(documents, entities)
    return KGBuild(documents, entities, relations, to_triples(relations))


def build_triples_from_texts(documents: DataFrame, mode: str = "fused") -> DataFrame:
    """Same pipeline for inputs that are already one-document-per-row
    (e.g. the driver's ``documents`` parquet): expects (conv_id, text),
    conv_id unique per row."""
    from .session import spread

    if mode not in ("fused", "modular"):
        raise ValueError(f"unknown build_triples_from_texts mode {mode!r}")
    documents = spread(documents)
    if mode == "fused":
        # persisted so a caller's repeated actions on the triples reuse one
        # kernel run; one consumer, so no eager build is needed
        return _kernel_triples(track(extract_documents_fused(documents)))
    documents = track(documents)
    entities = track(extract_entities(documents))
    return to_triples(extract_relations(documents, entities))
