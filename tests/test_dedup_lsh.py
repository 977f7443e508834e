"""Correctness gates for the MinHash-LSH / SimHash near-dup operators.

These are non-SQL (xxhash64 signatures aren't reproducible in DuckDB), so
the driver's check is rows-only; the real gates live here:
- MinHash estimated Jaccard tracks exact n-gram Jaccard within the
  standard-error bound of k=64 hashes.
- LSH banding finds 100% of planted near-duplicates on this corpus.
- SimHash banding is EXHAUSTIVE for Hamming <= 3 with 4x16-bit bands
  (pigeonhole: <=3 flipped bits cannot touch all 4 bands).
- The bucket-size cap (skew guard) drops flood buckets without losing
  pairs that collide in uncrowded buckets.
"""

from __future__ import annotations

import random

import pytest

from agraph_spark.operators import dedup_docs as DD


def _corpus(spark, n_base=40, n_planted=20, mutations=(7, 31), seed=42):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(500)]
    docs, planted = [], []
    for i in range(n_base):
        words = [rng.choice(vocab) for _ in range(60)]
        docs.append((i, " ".join(words)))
        if i < n_planted:
            mutated = list(words)
            for j in mutations:
                mutated[j] = rng.choice(vocab)
            docs.append((i + 1000, " ".join(mutated)))
            planted.append((i, i + 1000))
    return spark.createDataFrame(docs, "doc_id long, text string"), planted


def test_minhash_estimate_tracks_exact_jaccard(spark):
    df, planted = _corpus(spark)
    exact = {(r.doc_a, r.doc_b): r.jaccard
             for r in DD.ngram_jaccard_pairs(df, threshold=0.05, n=3).collect()}
    est = {(r.doc_a, r.doc_b): r.est_jaccard
           for r in DD.minhash_lsh_pairs(df, num_hashes=64, bands=16, threshold=0.05).collect()}
    # every planted near-dup is found by both paths
    assert all(p in exact for p in planted)
    assert all(p in est for p in planted), "LSH recall < 1.0 on planted near-dups"
    # estimator accuracy: k=64 hashes -> se ~ sqrt(J(1-J)/64) <= 0.0625
    common = set(exact) & set(est)
    assert len(common) >= len(planted)
    errs = [abs(exact[p] - est[p]) for p in common]
    assert max(errs) < 0.2, f"worst est error {max(errs)}"
    assert sum(errs) / len(errs) < 0.08, "mean est error beyond MinHash bounds"


def test_minhash_no_false_high_estimates(spark):
    """Random 60-word docs from a 500-word vocab share almost no 3-gram
    shingles: nothing un-planted may appear at threshold 0.3."""
    df, planted = _corpus(spark)
    got = {(r.doc_a, r.doc_b)
           for r in DD.minhash_lsh_pairs(df, num_hashes=64, bands=16, threshold=0.3).collect()}
    assert got == set(planted)


def test_simhash_exhaustive_within_hamming_3(spark):
    """4 bands x 16 bits: any pair with Hamming <= 3 agrees on >= 1 band,
    so banding finds EVERY such pair — verify against brute-force Hamming
    computed from the raw signatures."""
    df, _ = _corpus(spark)
    sigs = {r.doc: r.simhash for r in DD.simhash64(df).collect()}
    ids = sorted(sigs)
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids) for b in ids[i + 1:]
    }
    want = {p for p, h in brute.items() if h <= 3}
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in DD.simhash_near_pairs(df, max_hamming=3).collect()}
    assert set(got) == want
    # reported distances match brute force
    assert all(got[p] == brute[p] for p in got)


def test_simhash_planted_recall(spark):
    """2-of-60-word mutations land at Hamming ~1-8; band blocking at
    max_hamming=10 must recover most planted pairs and no random ones."""
    df, planted = _corpus(spark)
    got = {(r.doc_a, r.doc_b) for r in DD.simhash_near_pairs(df, max_hamming=10).collect()}
    recall = sum(1 for p in planted if p in got) / len(planted)
    assert recall >= 0.75
    assert got <= set(planted), "random doc pair within Hamming 10 — corpus broken"


@pytest.mark.parametrize("fn,kw", [
    (DD.minhash_lsh_pairs, {"threshold": 0.3}),
    (DD.simhash_near_pairs, {"max_hamming": 3}),
])
def test_lsh_bucket_cap_drops_flood(spark, monkeypatch, caplog, fn, kw):
    """100 identical docs flood every band bucket; with a cap below 100 the
    flood contributes no candidate pairs, while an uncrowded planted pair
    elsewhere is still found. The log names one dropped bucket per band
    (8 MinHash bands, 4 SimHash bands)."""
    import logging

    rng = random.Random(7)
    vocab = [f"v{i}" for i in range(300)]
    flood_text = " ".join(rng.choice(vocab) for _ in range(60))
    # the planted pair is byte-identical (Jaccard 1 / Hamming 0): the test
    # targets the flood-bucket drop, not near-dup sensitivity
    uniq = " ".join(rng.choice(vocab) for _ in range(60))
    docs = [(i, flood_text) for i in range(100)]
    docs += [(500, uniq), (501, uniq)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    monkeypatch.setattr(DD, "BUCKET_DOCS", 50)
    with caplog.at_level(logging.WARNING, logger=DD.__name__):
        capped = {(r.doc_a, r.doc_b) for r in fn(df, **kw).collect()}
    assert capped == {(500, 501)}
    n_bands = 8 if fn is DD.minhash_lsh_pairs else 4
    assert f"dropping {n_bands} band buckets larger than 50 docs" in caplog.text
    monkeypatch.setattr(DD, "BUCKET_DOCS", 10**9)
    uncapped = {(r.doc_a, r.doc_b) for r in fn(df, **kw).collect()}
    assert len(uncapped) == 100 * 99 // 2 + 1


def test_caches_released_after_build(spark):
    """Operators persist through caching.track; release_caches drops every
    tracked cache once results are materialized (the driver wraps each
    query this way)."""
    from agraph_spark.caching import release_caches
    from agraph_spark.pipeline import build_kg_from_texts

    release_caches(spark)  # drop anything earlier tests tracked

    # compare RDD-id SETS, not counts: Spark's ContextCleaner unpersists
    # GC'd RDDs from earlier tests asynchronously, so a raw count can
    # transiently shrink between observations (observed flake)
    def persistent_ids():
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = persistent_ids()
    docs = spark.createDataFrame(
        [("c1", "Alice Johnson works at Acme Corp. Bob founded OpenAI."),
         ("c2", "The database contains a table. The table contains a column.")],
        "conv_id string, text string")
    out = build_kg_from_texts(docs).triples
    assert out.count() > 0
    added = persistent_ids() - before
    assert added, "pipeline no longer persists its kernel output"
    release_caches(spark)
    assert not (persistent_ids() & added), "tracked caches survived release"


def _py_shingles(text: str, n: int) -> set[str]:
    """The shingling rules in plain Python: str.strip, lower, a unicode
    whitespace split, word n-grams; one whole-text shingle when a
    document has fewer than n words."""
    import re

    words = re.split(r"\s+", text.strip().lower())  # str patterns: unicode \s
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


@pytest.mark.parametrize("n", [2, 3])
def test_shingle_table_matches_python_shingler(spark, n):
    rng = random.Random(3)
    long_doc = " ".join(rng.choice(["Alpha", "beta", "gamma", "delta", "eps"])
                        for _ in range(4000))
    texts = [
        "",
        "   \t\n ",
        "\u00a0Alpha\u3000beta\u00a0 gamma\tDelta\n\nepsilon\u3000",
        "\u3000\u00a0",
        "one",
        "one two",
        "a b c a b c a b c a b",
        "The Cat sat THE cat SAT the cat",
        long_doc,
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = sorted(tuple(r) for r in DD.shingle_table(df, n=n).collect())
    want = sorted((i, s) for i, t in enumerate(texts) for s in _py_shingles(t, n))
    assert got == want
