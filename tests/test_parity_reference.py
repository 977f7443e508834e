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

from agraph_spark.caching import track
from agraph_spark.operators.extraction import extract_entities
from agraph_spark.operators.reassemble import TURN_SEPARATOR, reassemble_conversations
from agraph_spark.operators.relations import extract_relations, to_triples
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


def modular_triples(documents):
    """The kernel's independent oracle: (conv_id, text) documents through
    the modular operators, per-stage Spark joins instead of one kernel."""
    documents = track(documents)
    return to_triples(extract_relations(documents, track(extract_entities(documents))))


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
