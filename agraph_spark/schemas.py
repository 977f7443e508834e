"""StructTypes of the engine's input and of its extraction kernels' outputs.

TRANSCRIPTS is the input table (BASELINE.json input_hint); MENTIONS and
REL_CANDIDATES are the mapInPandas kernel schemas. The output tables
(nodes, edges, triples, chunks) take their schema from the operators that
build them (materialize.py, relations.to_triples, chunking), so there is
no second copy here to drift.
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

# raw (head_text, pred, tail_text) capture-group candidates (E5)
REL_CANDIDATES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("pred", T.StringType(), False),
        T.StructField("head_text", T.StringType(), False),
        T.StructField("tail_text", T.StringType(), False),
    ]
)

