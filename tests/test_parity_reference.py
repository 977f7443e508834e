"""Parity gate: Spark pipeline's (subj, pred, obj) set vs the ACTUAL
reference extractors run on the same reassembled conversations, or, when
the reference checkout is absent, vs their outputs recorded in
tests/golden (tests/golden/capture.py).

BASELINE.json asks P/R >= 0.95; the deterministic path holds exact parity
(P = R = 1.0), so any regex/order/dedup drift fails here.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from agraph_spark import patterns as P
from agraph_spark.caching import track
from agraph_spark.operators.extraction import entity_confidence_col, keyword_counts
from agraph_spark.operators.fused import _candidates_batch, _mentions_frame
from agraph_spark.operators.reassemble import TURN_SEPARATOR, reassemble_conversations
from agraph_spark.operators.relations import (
    cooccurrence_relations,
    pattern_relations,
    to_triples,
    validate_relations,
)
from agraph_spark.pipeline import build_kg
from agraph_spark.refload import golden, reference_available, reference_triples
from agraph_spark.synth import make_transcripts, transcripts_df


def golden_triples(pdf: pd.DataFrame) -> set[tuple[str, str, str]]:
    """Reference extractors over per-conversation documents (stable turn order)."""
    out: set[tuple[str, str, str]] = set()
    pdf = pdf.sort_values(["conv_id", "turn_idx", "ts"])
    for _, grp in pdf.groupby("conv_id", sort=True):
        doc = TURN_SEPARATOR.join(grp["text"].tolist())
        out |= reference_triples(doc)
    return out


# The join-form oracle. The raw regex steps (E1 mentions, E5 candidates)
# are the kernel's own functions, run in a mapInPandas of their own: the
# two forms would only differ in plumbing there, and test_triple_parity
# holds those steps to the reference's regex run. Everything after them is
# restated in Spark: E2 confidence and E3 keywords as column expressions,
# the D1 dedup as a min_by groupBy, and E7/E6/E9/D11 as conv_id joins.
# The mapInPandas functions are nested so that they are pickled by value:
# the Python workers cannot import this test module.


def modular_entities(documents):
    """(conv_id, text) documents -> per-conversation deduplicated entities:
    E1 mentions at E2 confidence >= 0.5, plus E3 keyword concepts, deduped
    first-seen-wins on (conv_id, lower(name)) with the max confidence
    (entity_extractor.py:93-125)."""
    def raw_mentions(batches):
        for pdf in batches:
            m = _mentions_frame(pdf["text"].fillna(""), pdf["conv_id"])
            if len(m):
                yield m

    mentions = (
        documents.select("conv_id", "text")
        .mapInPandas(raw_mentions, schema="conv_id string, name string, entity_type string,"
                     " seq bigint")
        .withColumn("confidence", entity_confidence_col("name"))
        .where(F.col("confidence") >= P.CONFIDENCE_THRESHOLD)
    )
    keywords = keyword_counts(documents).select(
        "conv_id",
        F.col("word").alias("name"),
        F.lit("concept").alias("entity_type"),
        (F.lit(P.KEYWORD_SEQ_BASE) + F.col("rk")).alias("seq"),
        F.lit(P.KEYWORD_CONFIDENCE).alias("confidence"),
    )
    return (
        mentions.unionByName(keywords)
        .groupBy("conv_id", F.lower(F.col("name")).alias("name_norm"))
        .agg(
            F.min_by(F.struct("name", "entity_type"), "seq").alias("first"),
            F.max("confidence").alias("confidence"),
            F.min("seq").alias("entity_order"),
        )
        .select(
            "conv_id",
            F.col("first.name").alias("name"),
            "name_norm",
            F.col("first.entity_type").alias("entity_type"),
            "confidence",
            "entity_order",
        )
    )


def modular_triples(documents):
    """The kernel's join-form oracle: (conv_id, text) documents through
    per-stage Spark joins instead of one kernel pass."""
    def raw_candidates(batches):
        for pdf in batches:
            c = _candidates_batch(pdf.reset_index(drop=True))
            if len(c):
                yield pd.DataFrame({
                    "conv_id": pdf["conv_id"].to_numpy()[c["row"].to_numpy(dtype="int64")],
                    "pred": c["pred"].to_numpy(),
                    "head_text": c["head_text"].to_numpy(),
                    "tail_text": c["tail_text"].to_numpy(),
                })

    documents = track(documents)
    entities = track(modular_entities(documents))
    candidates = documents.select("conv_id", "text").mapInPandas(
        raw_candidates,
        schema="conv_id string, pred string, head_text string, tail_text string")
    relations = pattern_relations(candidates, entities).unionByName(
        cooccurrence_relations(documents, entities))
    return to_triples(validate_relations(relations))


def build_triples(tdf, path: str):
    """Triples of a transcripts table by the kernel ("fused") or by the
    modular oracle over the same reassembled documents ("modular")."""
    if path == "modular":
        return modular_triples(reassemble_conversations(tdf))
    return build_kg(tdf).triples


@pytest.mark.parametrize(
    "seed,n_convs,path",
    [(7, 25, "fused"), (42, 40, "fused"), (7, 25, "modular"), (42, 40, "modular")],
)
def test_triple_parity(spark, seed, n_convs, path):
    tdf = transcripts_df(spark, n_convs=n_convs, seed=seed)
    got = {
        (r.subj, r.pred, r.obj)
        for r in build_triples(tdf, path).select("subj", "pred", "obj").distinct().collect()
    }
    if reference_available():
        want = golden_triples(make_transcripts(n_convs=n_convs, seed=seed))
    else:
        want = {tuple(t) for t in golden("parity_triples")[f"{seed}-{n_convs}"]}
    assert want, "no parity oracle ran"

    missing = sorted(want - got)[:10]
    extra = sorted(got - want)[:10]
    assert got == want, (
        f"got={len(got)} want={len(want)} common={len(got & want)}\n"
        f"missing={missing}\nextra={extra}"
    )


def test_partition_invariance(spark):
    """Triple set must not depend on input partitioning (SURVEY.md §5.3)."""
    tdf = transcripts_df(spark, n_convs=12, seed=3)
    t2 = {
        (r.subj, r.pred, r.obj)
        for r in build_kg(tdf.repartition(2)).triples.collect()
    }
    t16 = {
        (r.subj, r.pred, r.obj)
        for r in build_kg(tdf.repartition(16)).triples.collect()
    }
    assert t2 == t16 and len(t2) > 0


def test_reassembly_null_turns(spark):
    """ADVICE r3: reassembly on NULLABLE turns — concat_ws SKIPS null
    texts (no separator emitted) and array_sort orders null struct fields
    FIRST. c1 exercises the null-text skip, c2 the null-ts NULLS FIRST
    tiebreak. build_kg's documents carry exactly these texts, and the
    kernel and the modular oracle agree on their triples."""
    import datetime as dt

    from agraph_spark.schemas import TRANSCRIPTS

    t0 = dt.datetime(2020, 1, 1)
    rows = [
        ("c1", 0, "user", "Alice works at Acme.", None, t0),
        ("c1", 1, "assistant", None, None, t0),
        ("c1", 2, "user", "Bob lives in Paris.", None, t0),
        ("c2", 0, "user", "late-null-ts sorts first", None, None),
        ("c2", 0, "assistant", "early-real-ts sorts second", None, t0),
        ("c3", 0, "user", None, None, None),
    ]
    tdf = spark.createDataFrame(rows, TRANSCRIPTS).repartition(4)

    want = {r.conv_id: r.text for r in reassemble_conversations(tdf).collect()}
    assert want["c1"] == "Alice works at Acme.\nBob lives in Paris."
    assert want["c2"] == "late-null-ts sorts first\nearly-real-ts sorts second"
    build = build_kg(tdf)
    assert {r.conv_id: r.text for r in build.documents.collect()} == want

    def spo(df):
        return {(r.subj, r.pred, r.obj) for r in df.collect()}

    assert spo(build.triples) == spo(build_triples(tdf, "modular"))


def test_per_turn_text_equality(spark):
    """input_hint invariant: reassembly preserves each turn's text verbatim
    in stable turn order."""
    pdf = make_transcripts(n_convs=8, seed=11)
    tdf = transcripts_df(spark, n_convs=8, seed=11)
    docs = {r.conv_id: r.text for r in reassemble_conversations(tdf).collect()}
    for conv_id, grp in pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        expected = TURN_SEPARATOR.join(grp["text"].tolist())
        assert docs[conv_id] == expected, conv_id


def test_refload_failed_load_leaves_no_modules(monkeypatch, tmp_path):
    """A failed first load must re-raise its real error on the next call,
    not hand back the half-initialized module it left in sys.modules."""
    import sys

    from agraph_spark import refload

    saved = {k: sys.modules.pop(k) for k in list(sys.modules) if k.startswith("refagraph")}
    monkeypatch.setattr(refload, "REF_ROOT", str(tmp_path / "missing"))
    try:
        for load in (refload.load_reference_chunker, refload.load_reference_extractors):
            for _ in range(2):
                with pytest.raises(FileNotFoundError):
                    load()
            assert not [k for k in sys.modules if k.startswith("refagraph")]
    finally:
        sys.modules.update(saved)
