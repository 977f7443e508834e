"""Entity linking: LSH blocking recall, verification, canonicalization,
edge repoint, and the alias dictionary path."""

from __future__ import annotations

from pyspark.sql import functions as F

from agraph_spark.operators.linking import (
    alias_link,
    canonical_mapping,
    link_entities,
    lsh_candidate_pairs,
    merge_nodes,
    name_similarity_col,
    repoint_edges,
    score_candidates,
)


def _nodes(spark, rows):
    return spark.createDataFrame(
        [
            (f"e{i}", name, name.lower(), etype, 0.8, None, 1)
            for i, (name, etype) in enumerate(rows)
        ],
        "entity_id string, name string, name_norm string, entity_type string, "
        "confidence double, aliases array<string>, n_mentions long",
    )


def test_lsh_blocking_finds_near_duplicates(spark):
    nodes = _nodes(
        spark,
        [
            ("Acme Corp", "organization"),
            ("Acme Corp.", "organization"),
            ("Acme Corporation", "organization"),
            ("Globex Inc", "organization"),
            ("Paris", "location"),
            ("Paris City", "location"),
            ("zebra", "concept"),
        ],
    )
    pairs = lsh_candidate_pairs(nodes, max_jaccard_distance=0.7)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert ("e0", "e1") in got  # Acme Corp ~ Acme Corp.
    assert ("e0", "e2") in got  # Acme Corp ~ Acme Corporation
    # different types never pair
    assert all(not (a.startswith("e4") and b == "e6") for a, b in got)


def test_score_and_canonicalize(spark):
    nodes = _nodes(
        spark,
        [
            ("Acme Corp", "organization"),
            ("Acme Corp.", "organization"),
            ("Acme Corporation", "organization"),
            ("Globex Inc", "organization"),
        ],
    )
    mapping = link_entities(nodes)
    m = {r.entity_id: r.canonical_id for r in mapping.collect()}
    # transitive merge into one canonical id (min id = e0)
    assert m.get("e1") == "e0" and m.get("e2") == "e0"
    assert "e3" not in m  # Globex untouched


def test_repoint_and_merge(spark):
    nodes = _nodes(spark, [("A B", "concept"), ("A  B", "concept"), ("C", "concept")])
    mapping = spark.createDataFrame([("e1", "e0")], "entity_id string, canonical_id string")
    edges = spark.createDataFrame(
        [("x1", "e1", "e2", "related_to", 0.5), ("x2", "e2", "e1", "related_to", 0.5)],
        "edge_id string, head_id string, tail_id string, pred string, confidence double",
    )
    re = repoint_edges(edges, mapping).collect()
    assert {(r.head_id, r.tail_id) for r in re} == {("e0", "e2"), ("e2", "e0")}
    merged = merge_nodes(nodes, mapping)
    assert merged.count() == 2
    row = merged.where(F.col("entity_id") == "e0").first()
    assert row.n_mentions == 2


def test_alias_dict_path(spark):
    nodes = _nodes(spark, [("Big Blue", "organization"), ("IBM Corp", "organization")])
    alias = spark.createDataFrame(
        [("big blue", "ibm corp", "organization"), ("ibm corp", "ibm corp", "organization")],
        "alias string, canonical_name string, entity_type string",
    )
    hits = alias_link(nodes, alias)
    assert hits.count() == 2
    mapping = link_entities(nodes, alias_dict=alias)
    m = {r.entity_id: r.canonical_id for r in mapping.collect()}
    assert m.get("e1") == "e0"


def test_canonical_mapping_transitive_chain(spark, forced_path):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "id_a string, id_b string"
    )
    m = {r.entity_id: r.canonical_id for r in canonical_mapping(pairs).collect()}
    assert m == {"b": "a", "c": "a", "d": "a", "y": "x"}
    # the small-graph driver path and the distributed CC path must agree
    with forced_path("distributed"):
        m_dist = {r.entity_id: r.canonical_id
                  for r in canonical_mapping(pairs).collect()}
    assert m_dist == m


def test_canonical_mapping_small_path_equals_distributed(spark, forced_path):
    """Round 5: canonical_mapping's adaptive small-graph cutover (driver
    union-find under the pair budget) must be row-identical to the
    iterative distributed CC on a random pair soup."""
    import random

    rng = random.Random(99)
    ids = [f"e{i:03d}" for i in range(120)]
    pairs = [(min(a, b), max(a, b))
             for a, b in (rng.sample(ids, 2) for _ in range(150))]
    df = spark.createDataFrame(pairs, "id_a string, id_b string")
    small = {(r.entity_id, r.canonical_id)
             for r in canonical_mapping(df).collect()}
    with forced_path("distributed"):
        dist = {(r.entity_id, r.canonical_id)
                for r in canonical_mapping(df).collect()}
    assert small == dist and len(small) > 0
    # empty input -> empty mapping, correct schema
    empty = canonical_mapping(
        spark.createDataFrame([], "id_a string, id_b string"))
    assert empty.count() == 0 and empty.columns == ["entity_id", "canonical_id"]


def test_linkable_universe_bound_is_visible(spark, caplog, monkeypatch):
    """Entities with names beyond NAME_CHARS/NAME_WORDS are
    INTENTIONALLY never merge candidates (LSH bucket-flood guard); the
    exclusion is a named bound and logged, not silent."""
    import logging

    from agraph_spark.operators import linking
    from agraph_spark.operators.linking import link_entities

    long_name = "the quick brown fox jumps over the lazy dog entirely"
    nodes = spark.createDataFrame(
        [("e1", "Acme Corp", "acme corp", "organization", 0.9),
         ("e2", "Acme Corp.", "acme corp.", "organization", 0.8),
         ("e3", long_name, long_name, "organization", 0.9),
         ("e4", long_name + " x", long_name + " x", "organization", 0.9)],
        "entity_id string, name string, name_norm string, entity_type string, confidence double")
    with caplog.at_level(logging.WARNING):
        mapping = link_entities(nodes, log_excluded=True)
        got = {(r.entity_id, r.canonical_id) for r in mapping.collect()}
    # short near-dup pair merges; the two long-named near-dups do NOT
    assert got == {("e2", "e1")}
    assert any("excluded from the linkable universe" in r.message for r in caplog.records)
    # widening the bound brings them back into scope
    monkeypatch.setattr(linking, "NAME_CHARS", 64)
    monkeypatch.setattr(linking, "NAME_WORDS", 12)
    wide = link_entities(nodes)
    got_wide = {(r.entity_id, r.canonical_id) for r in wide.collect()}
    assert ("e4", "e3") in got_wide


# ------------------------------------------- D3 name-similarity parity (#9)


def _ref_name_similarity(n1: str, n2: str) -> float:
    """Python oracle mirroring the reference's _calculate_name_similarity /
    _levenshtein_similarity exactly (llm_builders.py:437-469): exact 1.0,
    Python-substring 0.8 ('' in x is True), else 1 - levenshtein/max_len
    with either-empty -> 0.0."""
    if n1 == n2:
        return 1.0
    if n1 in n2 or n2 in n1:
        return 0.8
    if len(n1) == 0 or len(n2) == 0:
        return 0.0
    s1, s2 = (n1, n2) if len(n1) <= len(n2) else (n2, n1)
    distances = list(range(len(s1) + 1))
    for i2, c2 in enumerate(s2):
        new = [i2 + 1]
        for i1, c1 in enumerate(s1):
            if c1 == c2:
                new.append(distances[i1])
            else:
                new.append(1 + min(distances[i1], distances[i1 + 1], new[-1]))
        distances = new
    return 1.0 - distances[-1] / max(len(s1), len(s2))


def test_name_similarity_matches_reference_hypothesis(spark):
    """name_similarity_col vs the reference ratio over hypothesis-generated
    name pairs (unicode, empties, substrings, near-misses). Measured
    agreement bound recorded in COVERAGE.md."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    names = st.text(
        alphabet=st.sampled_from("ab 华为é'-"), min_size=0, max_size=12)
    near = st.tuples(names, names)

    @settings(max_examples=12, deadline=None)
    @given(st.lists(near, min_size=1, max_size=40))
    def check(pairs):
        df = spark.createDataFrame(pairs, "name_a string, name_b string")
        got = df.select("name_a", "name_b",
                        name_similarity_col().alias("sim")).collect()
        for r in got:
            want = _ref_name_similarity(r.name_a, r.name_b)
            assert abs(r.sim - want) < 1e-9, (repr(r.name_a), repr(r.name_b), r.sim, want)

    check()


def test_lsh_pairs_driver_cutover_equals_distributed(spark, forced_path):
    """Round 6: lsh_candidate_pairs' adaptive small-universe cutover (driver
    banding over collected model.transform rows) must be row-identical —
    including the lsh_distance doubles — to the distributed
    approxSimilarityJoin, on a name soup with exact dups, near-dups,
    substrings, cross-type name collisions and unicode."""
    rows = [
        ("Acme Corp", "organization"), ("Acme Corp.", "organization"),
        ("Acme Corporation", "organization"), ("Acme Corp", "location"),
        ("Globex Inc", "organization"), ("Globex Inc.", "organization"),
        ("Paris", "location"), ("Paris City", "location"),
        ("paris", "location"), ("zebra", "concept"), ("zebra!", "concept"),
        ("华为技术", "organization"), ("华为技术有限公司", "organization"),
        ("ab", "concept"), ("ba", "concept"), ("abc", "concept"),
    ]
    nodes = _nodes(spark, rows)
    drv = lsh_candidate_pairs(nodes)
    with forced_path("distributed"):
        dist = lsh_candidate_pairs(nodes)
    key = lambda r: (r.id_a, r.id_b)
    got_d = {key(r): r for r in drv.collect()}
    got_x = {key(r): r for r in dist.collect()}
    assert set(got_d) == set(got_x) and len(got_d) > 3
    for k in got_d:
        assert got_d[k].lsh_distance == got_x[k].lsh_distance, k
        assert (got_d[k].name_a, got_d[k].name_b, got_d[k].type_a) == (
            got_x[k].name_a, got_x[k].name_b, got_x[k].type_a)
    # schema identical on both paths (nullability flags may differ; they
    # carry no result content)
    assert [(f.name, f.dataType) for f in drv.schema.fields] == [
        (f.name, f.dataType) for f in dist.schema.fields]
    # full chain agrees too
    m_drv = {(r.entity_id, r.canonical_id) for r in link_entities(nodes).collect()}
    from agraph_spark.operators.linking import score_candidates as _sc  # noqa: F401
    import agraph_spark.operators.linking as L

    pairs = L.score_candidates(dist, 0.7)
    verified = L.verify_pairs_batched(pairs).where(F.col("is_duplicate"))
    m_dist = {(r.entity_id, r.canonical_id)
              for r in L.canonical_mapping(verified.select("id_a", "id_b")).collect()}
    assert m_drv == m_dist


def test_collision_heavy_lsh_universe_takes_distributed_path(spark, monkeypatch, forced_path):
    """A universe far under the LSH row budget whose buckets would make the
    driver mirror enumerate more than adaptive.LSH_PAIRS pairs must take
    the distributed join without building a single pair, with the same
    pair set as the mirror. 720 copies of one name (each its own type, so
    the copies are never candidates of each other) share a bucket in all
    4 hash tables: 4 * C(720, 2) = 1,035,360 in-bucket pairs."""
    import itertools

    import agraph_spark.operators.linking as L
    from agraph_spark.operators import adaptive

    rows = [("acme corp", f"type{i}") for i in range(720)] + [
        ("globex inc", "org"), ("globex inc.", "org"), ("globex", "org")]
    nodes = _nodes(spark, rows)
    assert len(rows) <= adaptive.LINK_ROWS
    loops, declined = [], []
    real_comb, real_mirror = itertools.combinations, L._driver_lsh_pairs
    monkeypatch.setattr(itertools, "combinations",
                        lambda *a: loops.append(1) or real_comb(*a))
    monkeypatch.setattr(L, "_driver_lsh_pairs",
                        lambda *a: declined.append(real_mirror(*a) is None) or None)
    got = {(r.id_a, r.id_b, r.lsh_distance) for r in lsh_candidate_pairs(nodes).collect()}
    assert declined == [True] and loops == []
    monkeypatch.setattr(L, "_driver_lsh_pairs", real_mirror)
    with forced_path("driver"):
        want = {(r.id_a, r.id_b, r.lsh_distance)
                for r in lsh_candidate_pairs(nodes).collect()}
    assert loops  # the forced mirror did enumerate the pairs
    assert got == want and len(want) >= 2


def test_lsh_null_id_and_type_rows_pair_with_nothing(spark, forced_path):
    """The distributed join's id_a < id_b and type_a == type_b reject
    nulls, so a row with a null entity_id or entity_type is never a
    candidate; the driver mirror must drop the same rows (it used to pair
    two null-typed names and to raise on a null id)."""
    nodes = spark.createDataFrame(
        [("a", "acme corp", None), ("b", "acme corp.", None),
         ("c", "globex inc", "org"), ("d", "globex inc.", "org"),
         (None, "globex inc", "org"), ("e", None, "org")],
        "entity_id string, name_norm string, entity_type string")
    got = {}
    for path in ("driver", "distributed"):
        with forced_path(path):
            pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(nodes).collect()}
            mapping = {(r.entity_id, r.canonical_id)
                       for r in link_entities(nodes).collect()}
        got[path] = (pairs, mapping)
    assert got["driver"] == got["distributed"] == ({("c", "d")}, {("d", "c")})
