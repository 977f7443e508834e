"""Canonical StructTypes for every table the engine reads or writes.

Spark mapping of the reference data model (SURVEY.md §1.2):
  Entity   -> nodes   (reference: agraph/entities.py:13-42)
  Relation -> edges   (FK form of agraph/relations.py:164-187)
  triple   -> triples ((head.name, relation_type, tail.name) parity surface)
  TextChunk-> chunks  (agraph/text.py:17-57)
Input is the transcripts table from BASELINE.json input_hint.
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_turns", T.IntegerType(), True),
    ]
)

# one regex/model mention candidate per row (pre-dedup); conv_id is
# nullable here and in REL_CANDIDATES so a null-conv_id document passes
# through the kernels (the conv_id joins then drop it) instead of failing
MENTIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("name", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
        # emission order inside one document: reference loops
        # type -> pattern -> match (entity_extractor.py:217-220); keywords
        # are appended after patterns (entity_extractor.py:242-251).
        T.StructField("seq", T.LongType(), False),
    ]
)

# deduplicated per-conversation entities (reference deduplicate_entities,
# agraph/extractors/entity_extractor.py:93-125)
ENTITIES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("name_norm", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), False),
        T.StructField("entity_order", T.LongType(), False),
    ]
)

# raw (head_text, pred, tail_text) capture-group candidates (E5)
REL_CANDIDATES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("pred", T.StringType(), False),
        T.StructField("head_text", T.StringType(), False),
        T.StructField("tail_text", T.StringType(), False),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("conf", T.DoubleType(), False),
    ]
)

CHUNKS = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("chunk_type", T.StringType(), True),
        T.StructField("start_index", T.IntegerType(), True),
        T.StructField("end_index", T.IntegerType(), True),
        T.StructField("token_count", T.IntegerType(), True),
    ]
)

NODES = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("name_norm", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("aliases", T.ArrayType(T.StringType()), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_mentions", T.LongType(), True),
        T.StructField("lineage", T.StringType(), True),
    ]
)

EDGES = T.StructType(
    [
        T.StructField("edge_id", T.StringType(), False),
        T.StructField("head_id", T.StringType(), False),
        T.StructField("tail_id", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("lineage", T.StringType(), True),
    ]
)
