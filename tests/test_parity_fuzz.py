"""Parity fuzz: adversarial random documents -> per-document triple-set
equality vs the actual reference extractors, or, when the reference
checkout is absent, vs their outputs recorded in tests/golden.

The seeded generator mixes the hazard classes that broke naive ports in
development: leading/trailing whitespace, empty-ish strings, regex
metacharacters in text, CJK + EN mixtures, newlines inside names
(the all-caps org pattern matches across \\n), multi-sentence lines where
'(.+)' captures the rest of the line, stopwords as candidate names, and
near-empty capture groups (whitespace-only -> '' resolution semantics).
"""

from __future__ import annotations

import random

from agraph_spark.pipeline import build_kg_from_texts
from agraph_spark.refload import golden, reference_available, reference_triples

TOKENS = [
    "Alice", "Smith", "Acme", "Corp", "works", "for", "of", "the", "and",
    "contains", "includes", "develops", "founded", "by", "is", "similar",
    "to", "related", "a+b", "(x)", "[y]", "{z}", "C++", "node.js", "a.b",
    "iPhone", "Python", "TensorFlow", "苹果公司", "北京", "位于", "包括",
    "人工智能", "Dr.", "Mr", "Prof.", "AI", "ML", "I", "словo", "café",
    "spark", "spark", "engine", "engine",  # repeated for keyword freq
]
PUNCT = [".", "!", "?", ". ", "! ", "? ", ", ", " ", "  ", "\n", " \n ", "·"]


def gen_doc(rng: random.Random) -> str:
    n = rng.randint(3, 60)
    parts = []
    for _ in range(n):
        parts.append(rng.choice(TOKENS))
        parts.append(rng.choice(PUNCT) if rng.random() < 0.4 else " ")
    return "".join(parts)


def fuzz_docs() -> list[tuple[str, str]]:
    rng = random.Random(20260816)
    docs = [(f"d{i}", gen_doc(rng)) for i in range(60)]
    # a few hand-picked hazards
    docs += [
        ("h0", "   "),
        ("h1", "of of of"),
        ("h2", "A B works for C D. E F develops iPhone!"),
        ("h3", "苹果公司位于北京。苹果公司开发iPhone。"),
        ("h4", "THE BIG\nLOUD ORG works for Acme Corp"),
        ("h5", "x works for  "),  # whitespace-only tail capture -> '' resolution
        ("h6", "a of b. a of b. a of b."),
    ]
    return docs


def test_fuzz_parity(spark):
    docs = fuzz_docs()
    if reference_available():
        wants = {cid: reference_triples(text) for cid, text in docs}
    else:
        recorded = golden("parity_fuzz")
        assert [(cid, text) for cid, text, _ in recorded] == docs, "fuzz docs drifted"
        wants = {cid: {tuple(t) for t in triples} for cid, _, triples in recorded}
    assert any(wants.values()), "no parity oracle ran"
    df = spark.createDataFrame(docs, "conv_id string, text string")
    got_rows = build_kg_from_texts(df).triples.select("conv_id", "subj", "pred", "obj").collect()
    got: dict[str, set] = {}
    for r in got_rows:
        got.setdefault(r.conv_id, set()).add((r.subj, r.pred, r.obj))
    failures = []
    for cid, text in docs:
        want = wants[cid]
        have = got.get(cid, set())
        if have != want:
            failures.append((cid, sorted(want - have)[:4], sorted(have - want)[:4], text[:80]))
    assert not failures, f"{len(failures)} docs mismatched: {failures[:3]}"
