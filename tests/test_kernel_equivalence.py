"""The fused document kernel computes confidence (E2), keywords (E3), the
entity dedup (D1), endpoint resolution (E7), sentence co-occurrence (E6),
validation (E9) and the triple dedup (D11) per conversation; the tests'
join-form oracle (test_parity_reference.modular_entities/modular_triples)
computes them as Spark expressions, groupBys and conv_id joins
(operators/extraction.py, operators/relations.py). Both must give the same
entities and triples, conf included, on the inputs where the two forms
could part ways.

One real difference between the forms: the kernel strips sentences with
Python's str.strip, the join form with Java's ``(?U)^\\s+|\\s+$``. Python
counts \\x1c-\\x1f as whitespace and Java's Unicode White_Space does not,
so a sentence of only those characters is empty in the kernel (dropped)
and non-empty in the join form. It cannot change a triple: no entity name
is made of them, and names never begin or end with whitespace, so
containment in the stripped sentence is the same either way. The kernel
follows Python, because the reference is Python. (Spark's lower() agrees
with Python's str.lower on the cases probed: İ, final sigma, Unicode 14
capitals.) The "sep" conversation below exercises it.
"""

from __future__ import annotations

import pytest

from agraph_spark.caching import release_caches
from agraph_spark.operators.fused import conversation_triples
from agraph_spark.pipeline import build_kg_from_texts
from test_parity_reference import build_triples, modular_entities, modular_triples

TRANSCRIPT_DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

CONVERSATIONS = {
    # a null conv_id: the equi-joins drop it, so the kernel yields nothing
    None: ["Alice Smith works for Acme Corp.", "Acme Corp develops Python."],
    "empty": [""],
    "null": [None, None],
    "no_ents": ["ok.", "fine then"],
    # the tail captures '' after strip, and '' resolves to the first entity
    "empty_cand": ["Acme Corp develops Python.", "Globex Inc describes  "],
    # nested names: "acme corp" resolves exactly, "the acme" to the first
    # entity containing or contained in it
    "nested": ["acme corp and acme. The acme team uses acme corp tools.",
               "acme corp is related to the acme"],
    # found by the related_to pattern (0.7) and by co-occurrence (0.5)
    "both": ["Python is related to TensorFlow."],
    "sep": ["Python\x1c.\x1c\x1d. TensorFlow and Python!\x1f"],
}


def _transcripts(spark, convs: dict):
    rows = [(cid, i, "user", text, None, None)
            for cid, turns in convs.items() for i, text in enumerate(turns)]
    return spark.createDataFrame(rows, TRANSCRIPT_DDL).repartition(3)


def _monster(spark):
    """A monster conversation of 1500 one-sentence turns over six
    entities, next to 40 one-turn conversations."""
    ents = ["spark", "table", "query", "join", "index", "column"]
    convs = {"giant": [f"the {ents[i % 6]} meets the {ents[(i + 1) % 6]} number {i}"
                       for i in range(1500)]}
    convs.update({f"c{i}": [f"the {ents[i % 6]} meets the {ents[(i + 2) % 6]}."]
                  for i in range(40)})
    return _transcripts(spark, convs)


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.select("conv_id", "subj", "pred", "obj", "conf").collect()}


def _by_path(tdf) -> dict[str, set[tuple]]:
    out = {}
    for path in ("modular", "fused"):
        out[path] = _rows(build_triples(tdf, path))
        release_caches(tdf.sparkSession)
    return out


@pytest.mark.parametrize("corpus", ["edge_cases", "monster"])
def test_kernel_triples_match_joins(spark, corpus):
    tdf = _transcripts(spark, CONVERSATIONS) if corpus == "edge_cases" else _monster(spark)
    got = _by_path(tdf)
    assert got["fused"] == got["modular"]
    by_conv = {}
    for row in got["modular"]:
        by_conv.setdefault(row[0], set()).add(row[1:])
    if corpus == "monster":
        assert len(by_conv["giant"]) > 10
        return
    assert None not in by_conv
    assert not {"empty", "null", "no_ents"} & set(by_conv)
    assert ("globex inc", "describes", "acme corp", 0.7) in by_conv["empty_cand"]
    assert ("acme corp", "related_to", "the acme", 0.7) in by_conv["nested"]
    assert ("python", "related_to", "tensorflow", 0.7) in by_conv["both"]
    assert ("python", "related_to", "tensorflow", 0.5) not in by_conv["both"]
    assert by_conv["sep"]


def _documents(spark, convs: dict):
    return spark.createDataFrame(
        [(cid, None if turns == [None, None] else "\n".join(turns))
         for cid, turns in convs.items()],
        "conv_id string, text string")


def test_documents_kernel_matches_joins(spark):
    """build_kg_from_texts over one-row documents, same cases."""
    docs = _documents(spark, CONVERSATIONS)
    modular = _rows(modular_triples(docs))
    release_caches(spark)
    assert _rows(build_kg_from_texts(docs).triples) == modular and modular


# names led by characters whose case rules differ across engines (long s,
# the Kelvin sign, dotted capital I, CJK), stopword names (dropped below
# the 0.5 confidence), stopword-led names, and repeated lowercase words
# (keyword concepts)
UNICODE_CONVERSATION = [
    "ſtrange Things. \u212aelvin Smith. İzmir Port.",
    "北京大学 and 清华大学 develop 人工智能 系统. 史蒂夫·乔布斯 visited 北京.",
    "The Acme Corp hired An Editor. And Bob works for The Acme Corp. The. An.",
    "data pipeline data pipeline data stream",
]


def test_kernel_entities_match_modular(spark):
    """The kernel's entities equal the Spark-form oracle's (E1 mentions at
    E2 confidence, E3 keywords, the D1 min_by dedup) on every conversation
    but the null conv_id: pandas groupby drops a null key, so the kernel
    gives that document no entities, where Spark's groupBy keeps it."""
    docs = _documents(spark, {**CONVERSATIONS, "unicode": UNICODE_CONVERSATION})
    cols = ("conv_id", "name", "name_norm", "entity_type", "confidence", "entity_order")

    def by_conv(df) -> dict:
        out = {}
        for r in df.select(*cols).collect():
            out.setdefault(r.conv_id, set()).add(tuple(r))
        return out

    modular = by_conv(modular_entities(docs))
    kernel = by_conv(build_kg_from_texts(docs).entities)
    release_caches(spark)
    assert None not in kernel and modular.pop(None)
    assert kernel == modular
    names = {r[1] for r in kernel["unicode"]}
    assert {"ſtrange Things", "\u212aelvin Smith", "İzmir Port", "清华大学", "And Bob",
            "data", "pipeline"} <= names, sorted(names)


def test_conversation_triples_rules():
    """The per-conversation function itself: exact match beats an earlier
    containing entity, '' resolves to the first entity, co-occurrence pairs
    follow emission order, E9 drops self-loops and invalid type combos."""
    def ent(name, etype, order):
        return {"name_norm": name, "entity_type": etype, "entity_order": order}

    ents = [ent("acme corp", "organization", 0), ent("acme", "concept", 1),
            ent("bob jones", "person", 2)]
    cands = [{"pred": "describes", "head_text": "acme", "tail_text": ""},
             {"pred": "belongs_to", "head_text": "bob jones", "tail_text": "acme corp inc"},
             {"pred": "belongs_to", "head_text": "acme", "tail_text": "acme corp"},
             {"pred": "describes", "head_text": "acme corp", "tail_text": "acme corp"}]
    got = {(t["subj"], t["pred"], t["obj"], t["conf"])
           for t in conversation_triples("Bob Jones met Acme. Nobody here", ents, cands)}
    assert got == {
        ("acme", "describes", "acme corp", 0.7),         # '' -> first entity
        ("bob jones", "belongs_to", "acme corp", 0.7),   # first containing entity
        ("acme", "related_to", "bob jones", 0.5),        # emission order 1 < 2
    }
    assert conversation_triples("anything", [], cands) == []

