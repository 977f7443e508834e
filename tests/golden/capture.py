"""Record the parity oracles' outputs into tests/golden/*.json.

The parity tests compare the engine against the reference agraph
extractors and chunker. When the reference checkout is absent they compare
against these recorded outputs instead. With the checkout present this
script records the reference's own outputs; without it, it records the
engine's, which is only valid for a tree already certified against the
live reference (P = R = 1.0).

    python tests/golden/capture.py
"""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [ROOT, os.path.dirname(HERE)]

from agraph_spark.refload import (  # noqa: E402
    FakeSegmentEncoding,
    load_reference_chunker,
    reference_available,
    reference_triples,
)

PARITY_CASES = [(7, 25), (42, 40)]
HIER_CONFIGS = [(20, 5), (50, 10), (10, 0), (30, 29)]
SIMPLE_SIZES = [10, 40, 200]
CHUNK_FUZZ_PIECES = ["word", "a", "Xy", "图", ".", "! ", "? ", ". ", " ", "\n",
                     "\n\n", "", "longtokenword"]


def chunk_fuzz_texts(n: int = 150, seed: int = 12) -> list[str]:
    """Seeded texts from the chunker fuzz test's alphabet."""
    rng = random.Random(seed)
    return ["".join(rng.choice(CHUNK_FUZZ_PIECES) for _ in range(rng.randint(0, 60)))
            for _ in range(n)]


def _dump(name: str, obj) -> None:
    """One record per line (a triple, a document, a text), so a re-capture
    diffs record by record."""
    def enc(v):
        return json.dumps(v, ensure_ascii=False, sort_keys=True)

    def block(v):
        if isinstance(v, list):
            return "[\n" + ",\n".join(enc(x) for x in v) + "\n]"
        return enc(v)

    if isinstance(obj, dict):
        text = "{\n" + ",\n".join(f"{enc(k)}: {block(v)}" for k, v in sorted(obj.items())) + "\n}"
    else:
        text = block(obj)
    with open(os.path.join(HERE, f"{name}.json"), "w") as fh:
        fh.write(text + "\n")


def _triple_lists(triples) -> list[list[str]]:
    return sorted([list(t) for t in triples])


def capture_triples(live: bool) -> None:
    from test_parity_fuzz import fuzz_docs
    from test_parity_reference import build_triples, golden_triples

    from agraph_spark.pipeline import build_kg_from_texts
    from agraph_spark.session import get_spark
    from agraph_spark.synth import make_transcripts, transcripts_df

    spark = None if live else get_spark(master="local[4]", shuffle_partitions=8)
    parity = {}
    for seed, n_convs in PARITY_CASES:
        if live:
            got = golden_triples(make_transcripts(n_convs=n_convs, seed=seed))
        else:
            tdf = transcripts_df(spark, n_convs=n_convs, seed=seed)
            fused, modular = [{(r.subj, r.pred, r.obj) for r in build_triples(tdf, p).collect()}
                              for p in ("fused", "modular")]
            assert fused == modular, f"kernel and modular oracle disagree at seed {seed}"
            got = fused
        parity[f"{seed}-{n_convs}"] = _triple_lists(got)
    _dump("parity_triples", parity)

    docs = fuzz_docs()
    if live:
        per_doc = {cid: reference_triples(text) for cid, text in docs}
    else:
        df = spark.createDataFrame(docs, "conv_id string, text string")
        per_doc = {cid: set() for cid, _ in docs}
        for r in build_kg_from_texts(df).triples.select("conv_id", "subj", "pred", "obj").collect():
            per_doc[r.conv_id].add((r.subj, r.pred, r.obj))
    _dump("parity_fuzz", [[cid, text, _triple_lists(per_doc[cid])] for cid, text in docs])


def capture_chunker(live: bool) -> None:
    from test_chunking_model import _gen_texts

    from agraph_spark.operators.chunking import split_text_hierarchical, split_text_simple

    enc = FakeSegmentEncoding()
    texts = _gen_texts()
    if live:
        TokenChunker, SimpleTokenChunker = load_reference_chunker()
        hier = lambda t, s, o: TokenChunker(chunk_size=s, chunk_overlap=o).split_text(t)  # noqa: E731
        simple = lambda t, s: SimpleTokenChunker(chunk_size=s, chunk_overlap=0).split_text(t)  # noqa: E731
    else:
        hier = lambda t, s, o: split_text_hierarchical(t, s, o, enc)  # noqa: E731
        simple = split_text_simple
    _dump("chunker", {
        "texts": texts,
        "hierarchical": {f"{s}-{o}": [hier(t, s, o) for t in texts] for s, o in HIER_CONFIGS},
        "simple": {str(s): [simple(t, s) for t in texts] for s in SIMPLE_SIZES},
        "fuzz_12_3": [[t, hier(t, 12, 3)] for t in chunk_fuzz_texts()],
    })


if __name__ == "__main__":
    live = reference_available()
    print("source:", "reference checkout" if live else "engine", file=sys.stderr)
    capture_chunker(live)
    capture_triples(live)
