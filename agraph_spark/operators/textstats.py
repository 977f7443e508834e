"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, fingerprinting.

Beyond the reference's surface (it has no corpus-hygiene ops) but required
for the 100 TB training-data use case. Everything is built-in column
expressions — scans stay in whole-stage codegen, filters push down.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WS = r"\s+"
_PYSTRIP = r"(?U)^\s+|\s+$"


def pystrip(col: Column) -> Column:
    """Python str.strip() semantics (all unicode whitespace, both ends) —
    Spark's trim() removes ASCII spaces only."""
    return F.regexp_replace(col, _PYSTRIP, "")
_CJK = r"[一-鿿]"
_LATIN_WORD = r"[A-Za-z]+(?:'[A-Za-z]+)?"

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "but", "in", "on", "at", "to", "for",
    "of", "with", "by", "is", "are", "was", "be", "this", "that", "it",
]


def token_count(text: Column) -> Column:
    """Whitespace-delimited token count (0 for empty/blank)."""
    t = pystrip(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, _WS))
    )


def word_token_count(text: Column) -> Column:
    """BPE-ish token estimate: latin word runs + digits + CJK chars + other
    non-space symbols each count once."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(_LATIN_WORD), 0))
        + F.size(F.regexp_extract_all(text, F.lit(r"\d+"), 0))
        + F.size(F.regexp_extract_all(text, F.lit(_CJK), 0))
    )


def cjk_ratio(text: Column) -> Column:
    n = F.length(text)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.regexp_extract_all(text, F.lit(_CJK), 0)) / n
    )


def lang_id(text: Column) -> Column:
    """n-gram-free heuristic language ID: zh when CJK-dense, else en when
    latin-dense, else 'other'."""
    cjk = cjk_ratio(text)
    latin = F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]"), 0)) / F.length(text)
    )
    return (
        F.when(cjk >= 0.15, F.lit("zh"))
        .when(latin >= 0.4, F.lit("en"))
        .otherwise(F.lit("other"))
    )


def quality_features(df: DataFrame) -> DataFrame:
    """Per-document quality features of ``text``: length, token count,
    punct ratio, stopword ratio, mean word length, uppercase ratio."""
    t = F.col("text")
    words = F.regexp_extract_all(F.lower(t), F.lit(r"[a-z]+"), 0)
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(EN_STOPWORDS)))
    n_chars = F.length(t)
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[.,;:!?]"), 0))
    n_upper = F.size(F.regexp_extract_all(t, F.lit(r"[A-Z]"), 0))
    mean_wlen = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w)) / n_words
    )
    return df.select(
        "*",
        n_chars.alias("n_chars_calc"),
        token_count(t).alias("n_tokens"),
        n_words.alias("n_words"),
        F.round(F.when(n_chars == 0, 0.0).otherwise(n_punct / n_chars), 6).alias("punct_ratio"),
        F.round(F.when(n_words == 0, 0.0).otherwise(n_stop / n_words), 6).alias("stopword_ratio"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(F.when(n_chars == 0, 0.0).otherwise(n_upper / n_chars), 6).alias("upper_ratio"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Composite 0-1 quality score from the features: rewards sentence-like
    punctuation, stopword presence, moderate word length; penalizes
    shouting. Deterministic weighted sum, SQL-expressible."""
    feats = quality_features(df)
    score = (
        F.lit(0.25) * F.least(F.col("n_tokens") / 50.0, F.lit(1.0))
        + F.lit(0.25) * F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0))
        + F.lit(0.25) * F.least(F.col("punct_ratio") * 20.0, F.lit(1.0))
        + F.lit(0.25) * (1.0 - F.least(F.col("upper_ratio") * 5.0, F.lit(1.0)))
    )
    return feats.withColumn("quality", F.round(score, 6))


def fingerprint(text: Column) -> Column:
    """Whitespace-normalized md5 document fingerprint (exact-dedup key)."""
    return F.md5(F.lower(F.regexp_replace(pystrip(text), r"(?U)\s+", " ")))
