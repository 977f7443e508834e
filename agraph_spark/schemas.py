"""StructType of the engine's input table.

TRANSCRIPTS is the input table (BASELINE.json input_hint). The output
tables (nodes, edges, triples, chunks) and the fused kernel's rows take
their schema from the operators that build them (materialize.py,
operators/fused.py, relations.to_triples, chunking), so there is no
second copy here to drift.
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
