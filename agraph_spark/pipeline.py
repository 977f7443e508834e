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
from .operators.fused import extract_documents_fused
from .operators.reassemble import reassemble_conversations


@dataclass
class KGBuild:
    documents: DataFrame
    entities: DataFrame
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


def build_kg(transcripts: DataFrame, cache_documents: bool = True) -> KGBuild:
    """Run the deterministic extraction pipeline over a transcripts table:
    the reassembly shuffle, then ALL per-conversation work — mentions,
    confidence, keywords, entity dedup, relation candidates, endpoint
    resolution, sentence co-occurrence, validation and the triple dedup —
    in ONE mapInPandas pass emitting per-conversation arrays
    (operators/fused.py). Entities and triples are narrow explodes of the
    cached kernel output; the reassembly is the build's only shuffle.

    The kernel is the library's one extraction implementation. The test
    suite holds it to exact reference parity and to a join-form oracle
    (tests/test_parity_reference.py::modular_triples)."""
    extracted = extract_documents_fused(reassemble_conversations(transcripts))
    if cache_documents:
        extracted = track(extracted)
        # eager: entities and triples both read this cache, and a job
        # that consumes both (materialize_graph's integrity join) would
        # otherwise run the kernel twice per partition, racing to build it
        extracted.count()
    # documents is the persisted kernel output, for unpersist() by callers
    return KGBuild(extracted, _kernel_entities(extracted), _kernel_triples(extracted))


def build_kg_from_texts(documents: DataFrame) -> KGBuild:
    """Same kernel for inputs that are already one-document-per-row
    (e.g. the driver's ``documents`` parquet): expects (conv_id, text),
    conv_id unique per row. No reassembly shuffle; the entities and
    triples are the same narrow explodes as ``build_kg``'s."""
    from .session import spread

    # persisted so a caller's repeated actions reuse one kernel run; lazy,
    # since the entry's queries each read one explode
    extracted = track(extract_documents_fused(spread(documents)))
    return KGBuild(extracted, _kernel_entities(extracted), _kernel_triples(extracted))
