"""Chunking bounds/overlap + batched model-extraction path."""

from __future__ import annotations

from pyspark.sql import functions as F

from agraph_spark.operators.chunking import (
    chunk_documents,
    link_chunks_to_entities,
    link_chunks_to_relations,
)
from agraph_spark.operators.model_extract import (
    extract_entities_model,
    extract_relations_model,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, text string")


def test_chunk_bounds_and_overlap(spark):
    long_text = " ".join(f"w{i}" for i in range(1000))
    docs = _docs(spark, [("c1", "short doc"), ("c2", long_text), ("c3", "   ")])
    ch = chunk_documents(docs, chunk_size=100, overlap=20).collect()
    by_conv = {}
    for r in ch:
        by_conv.setdefault(r.conv_id, []).append(r)
    assert len(by_conv["c1"]) == 1 and by_conv["c1"][0].chunk_type == "document"
    assert "c3" not in by_conv  # blank docs produce no chunks
    c2 = sorted(by_conv["c2"], key=lambda r: r.chunk_idx)
    size_w, step_w = 75, 75 - 15  # 100*0.75, minus 20*0.75
    assert all(r.chunk_type == "chunk" for r in c2)
    # coverage: windows tile the 1000 words with the configured stride
    assert c2[0].start_index == 0 and c2[1].start_index == step_w
    assert c2[-1].end_index == 1000
    # overlap: consecutive chunks share size_w - step_w words
    w0 = c2[0].content.split()
    w1 = c2[1].content.split()
    assert w0[step_w:] == w1[: size_w - step_w]
    # reconstruction: dedup-overlapped concat == original
    rebuilt = w0 + [w for r in c2[1:] for w in r.content.split()[size_w - step_w:]]
    assert rebuilt == long_text.split()


def test_chunk_linking(spark):
    docs = _docs(spark, [("c1", "Alice Smith works for Acme Corp. More text here.")])
    chunks = chunk_documents(docs, chunk_size=10, overlap=2)
    ents = spark.createDataFrame(
        [("c1", "alice smith"), ("c1", "acme corp"), ("c1", "zzz")],
        "conv_id string, name_norm string",
    )
    links = link_chunks_to_entities(chunks, ents)
    got = {r.name_norm for r in links.collect()}
    assert "alice smith" in got and "acme corp" in got and "zzz" not in got

    triples = spark.createDataFrame(
        [("c1", "alice smith", "works_for", "acme corp", 0.9),
         ("c1", "alice smith", "related_to", "zzz", 0.5)],
        "conv_id string, subj string, pred string, obj string, conf double",
    )
    rel_links = link_chunks_to_relations(links, triples)
    preds = {r.pred for r in rel_links.collect()}
    assert preds == {"works_for"}  # zzz endpoint not linked in any chunk


def test_model_entity_extraction_batched(spark):
    docs = _docs(
        spark,
        [("c1", "Alice Smith works for Acme Corp."),
         ("c2", "Globex Inc ships widgets."),
         ("c3", "no entities here")],
    )
    ents = extract_entities_model(docs)
    rows = {(r.conv_id, r.name, r.entity_type) for r in ents.collect()}
    assert ("c1", "Alice Smith", "person") in rows
    assert ("c1", "Acme Corp", "organization") in rows
    assert ("c2", "Globex Inc", "organization") in rows
    # content-hash ids are stable across runs
    ids1 = {r.name: r.entity_id for r in ents.collect()}
    ids2 = {r.name: r.entity_id for r in extract_entities_model(docs.repartition(3)).collect()}
    assert ids1 == ids2


def test_model_relation_extraction_normalizes_types(spark):
    docs = _docs(spark, [("c1", "Alice Smith works for Acme Corp.")])
    rels = extract_relations_model(docs).collect()
    assert len(rels) == 1
    r = rels[0]
    # stub emits EMPLOYED_BY; normalization maps it to works_for
    assert (r.subj, r.pred, r.obj) == ("alice smith", "works_for", "acme corp")
    assert r.relation_id.startswith("relation_")


def _gen_texts():
    import random

    rng = random.Random(13)
    words = ["alpha", "beta", "gamma", "delta", "spark", "table", "join", "図", "data"]
    texts = [
        "",
        "single",
        "no separators here at all".replace(" ", "_"),
        "Para one sentence a. Sentence b is here! Is this c?\n\nPara two starts. "
        + "word " * 40 + "\nshort line.",
        "x" * 300,  # char-split fallback
        ("A long paragraph without breaks " * 20).strip(),
        "\n\n".join(" ".join(rng.choice(words) for _ in range(rng.randint(1, 60)))
                     for _ in range(6)),
        "Q! R? S. " * 30,
    ]
    for _ in range(10):
        n_para = rng.randint(1, 4)
        paras = []
        for _ in range(n_para):
            n_sent = rng.randint(1, 6)
            paras.append(" ".join(
                " ".join(rng.choice(words) for _ in range(rng.randint(2, 25)))
                + rng.choice([".", "!", "?"]) for _ in range(n_sent)))
        texts.append("\n\n".join(paras))
    return texts


def _chunk_oracle():
    """(hierarchical(text, size, overlap), simple(text, size)) from the
    ACTUAL reference chunker when its checkout exists, else from its outputs
    recorded in tests/golden/chunker.json for the _gen_texts() corpus."""
    from agraph_spark.refload import golden, load_reference_chunker, reference_available

    if reference_available():
        TokenChunker, SimpleTokenChunker = load_reference_chunker()
        return (
            lambda t, s, o: TokenChunker(chunk_size=s, chunk_overlap=o).split_text(t),
            lambda t, s: SimpleTokenChunker(chunk_size=s, chunk_overlap=0).split_text(t),
        )
    rec = golden("chunker")
    assert rec["texts"] == _gen_texts(), "chunker corpus drifted from its recording"
    idx = {t: i for i, t in enumerate(rec["texts"])}
    return (
        lambda t, s, o: rec["hierarchical"][f"{s}-{o}"][idx[t]],
        lambda t, s: rec["simple"][str(s)][idx[t]],
    )


def test_hierarchical_chunker_matches_reference_tokenchunker(spark):
    """Engine split_text_hierarchical == the reference
    TokenChunker.split_text under the same (injected) encoding, for every
    generated text and several (size, overlap) configs."""
    from agraph_spark.operators.chunking import split_text_hierarchical
    from agraph_spark.refload import FakeSegmentEncoding

    ref, _ = _chunk_oracle()
    enc = FakeSegmentEncoding()
    for size, ov in [(20, 5), (50, 10), (10, 0), (30, 29)]:
        for t in _gen_texts():
            assert split_text_hierarchical(t, size, ov, enc) == ref(t, size, ov), (
                size, ov, t[:50])


def test_simple_chunker_matches_reference_simplechunker(spark):
    from agraph_spark.operators.chunking import split_text_simple

    _, ref = _chunk_oracle()
    for size in (10, 40, 200):
        for t in _gen_texts():
            assert split_text_simple(t, size) == ref(t, size), (size, t[:50])


def test_token_chunk_documents_kernel(spark):
    """The mapInPandas wrapper emits one row per reference chunk, in order,
    with document/chunk typing."""
    from agraph_spark.operators.chunking import token_chunk_documents

    ref, _ = _chunk_oracle()
    texts = [t for t in _gen_texts() if t.strip()][:6]
    docs = spark.createDataFrame(
        [(f"c{i}", t) for i, t in enumerate(texts)], "conv_id string, text string")
    got = (token_chunk_documents(docs, chunk_size=20, overlap=5)
           .orderBy("conv_id", "chunk_idx").collect())
    want = []
    for i, t in enumerate(texts):
        pieces = ref(t, 20, 5)
        for j, c in enumerate(pieces):
            want.append((f"c{i}", j, c, "document" if len(pieces) == 1 else "chunk"))
    assert [(r.conv_id, r.chunk_idx, r.content, r.chunk_type) for r in got] == sorted(want)


def test_hierarchical_chunker_parity_fuzz(spark):
    """Engine == reference TokenChunker on arbitrary text built from
    separators + words (pure Python, no Spark jobs): hypothesis-generated
    against the live reference, else the recorded seeded examples."""
    from agraph_spark.operators.chunking import split_text_hierarchical
    from agraph_spark.refload import (
        FakeSegmentEncoding,
        golden,
        load_reference_chunker,
        reference_available,
    )

    enc = FakeSegmentEncoding()
    if not reference_available():
        examples = golden("chunker")["fuzz_12_3"]
        assert examples, "no chunker oracle ran"
        for t, want in examples:
            assert split_text_hierarchical(t, 12, 3, enc) == want, t[:50]
        return

    from hypothesis import given, settings
    from hypothesis import strategies as st

    TokenChunker, _ = load_reference_chunker()
    ref = TokenChunker(chunk_size=12, chunk_overlap=3)
    piece = st.sampled_from(
        ["word", "a", "Xy", "图", ".", "! ", "? ", ". ", " ", "\n", "\n\n", "", "longtokenword"])
    texts = st.lists(piece, min_size=0, max_size=60).map("".join)

    @settings(max_examples=150, deadline=None)
    @given(texts)
    def check(t):
        assert split_text_hierarchical(t, 12, 3, enc) == ref.split_text(t)

    check()


def test_token_chunker_rejects_overlap_ge_size(spark):
    import pytest

    from agraph_spark.operators.chunking import token_chunk_documents

    docs = spark.createDataFrame([("c1", "hello world")], "conv_id string, text string")
    with pytest.raises(ValueError):
        token_chunk_documents(docs, chunk_size=10, overlap=10)
