"""Entity confidence and keyword concepts as Spark column expressions.

The library extracts entities in one place, the fused kernel
(operators/fused.py: E1 mentions, E2 confidence, E3 keywords and the D1
dedup per Arrow batch). The two stages here restate E2 and E3 in Spark
SQL for the queries that read them on their own (kg_confidence,
kg_keywords) and for the tests' join-form oracle
(tests/test_parity_reference.py), where the DuckDB oracle and the
reference hold them to the kernel's numbers:

- E2 confidence: pure column expression (entity_extractor.py:127-154).
- E3 keyword concepts: built-in regexp_extract_all + posexplode + groupBy +
  window top-k (entity_extractor.py:328-351).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import patterns as P


def entity_confidence_col(name_col: str = "name") -> F.Column:
    """E2 confidence formula as a column expression (SQL-expressible).

    base 0.5; +0.1 len>1; +0.1 len>3; +0.1 initial uppercase; -0.3 stopword;
    clamp [0,1]. Reference: entity_extractor.py:127-154."""
    name = F.col(name_col)
    conf = (
        F.lit(0.5)
        + F.when(F.length(name) > 1, 0.1).otherwise(0.0)
        + F.when(F.length(name) > 3, 0.1).otherwise(0.0)
        + F.when(F.substring(name, 1, 1).rlike(r"^\p{Lu}$"), 0.1).otherwise(0.0)
        - F.when(F.lower(name).isin(P.STOPWORDS), 0.3).otherwise(0.0)
    )
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), conf))


def keyword_counts(documents: DataFrame, id_col: str = "conv_id") -> DataFrame:
    """E3 inner stage: (id, word, cnt, first_pos, rk) — frequent non-stopword
    words (>=3 ASCII letters, freq >= 2), ranked by first occurrence
    (dict-insertion order in the reference), top-10
    (entity_extractor.py:328-351)."""
    words = documents.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(P.KEYWORD_REGEX), 0)
        ).alias("pos", "word"),
    ).where(~F.col("word").isin(P.STOPWORDS))
    counts = (
        words.groupBy(id_col, "word")
        .agg(F.count("*").alias("cnt"), F.min("pos").alias("first_pos"))
        .where(F.col("cnt") >= P.KEYWORD_MIN_FREQ)
    )
    w = Window.partitionBy(id_col).orderBy("first_pos")
    return counts.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= P.KEYWORD_TOP_K
    )
