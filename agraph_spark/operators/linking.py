"""Entity linking & canonicalization (SURVEY.md §2.5, D2-D7).

Candidate generation NEVER goes all-pairs (the reference's O(n^2) prefilter,
llm_builders.py:417-435, is the part we must re-architect for scale):

1. broadcast alias-dictionary join — mentions whose surface form is a known
   alias map straight to a canonical name (FIXTURES.md §2);
2. MinHash-LSH blocking on name ``NGRAM``-character shingles, same-type
   only (pyspark.ml.feature.MinHashLSH approxSimilarityJoin) — candidate
   pairs come from LSH buckets, bounded by bucket sizes, not corpus size;
3. survivors scored with the reference's exact rules: name similarity
   (exact 1.0 / substring 0.8 / Levenshtein ratio, llm_builders.py:437-469)
   above ``NAME_SIM`` and the D2 weighted similarity (0.4 name-Jaccard +
   0.2 type + 0.2 alias + 0.2 props, entity_merger.py:193-293);
4. pair verification via a pluggable BATCHED model (one call per Arrow
   record batch — mapInPandas); tests use the deterministic stub;
5. confirmed pairs -> iterative connected components (components.py);
   canonical id = min id per component (union-find semantics of
   llm_builders.py:513-551);
6. edge repoint: join edges against the old->canonical mapping on both FK
   columns (EntityMerger.merge_entity semantics, entity_merger.py:51-147).

The link policy is the block of module constants below; a test that needs
another setting monkeypatches the constant.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import adaptive
from .components import connected_components, driver_union_find

# Link policy, read when the plan is built. The linkable universe: names
# longer than NAME_CHARS characters or NAME_WORDS words are never merge
# candidates. Blocking: NGRAM-character shingles hashed into FEATURES
# binary features, LSH_TABLES MinHash tables, and a pair survives strictly
# below Jaccard distance MAX_DISTANCE (also read by _driver_lsh_pairs when
# it runs). Scoring keeps pairs with name similarity strictly above
# NAME_SIM. LSH_TABLES and NAME_SIM are the defaults of the two arguments
# that perfbench passes.
NAME_CHARS = 32
NAME_WORDS = 4
NGRAM = 3
FEATURES = 1 << 18
LSH_TABLES = 4
MAX_DISTANCE = 0.6
NAME_SIM = 0.7


def alias_link(nodes: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """(entity name_norm -> canonical_name) pairs via the broadcast alias
    dictionary: same-type alias hits (FIXTURES.md §2). Output columns
    (entity_id, canonical_name)."""
    a = F.broadcast(alias_dict.select(
        F.lower(F.col("alias")).alias("alias_norm"),
        F.lower(F.col("canonical_name")).alias("canonical_name"),
        F.col("entity_type").alias("alias_type"),
    ))
    return (
        nodes.join(a, (F.col("name_norm") == F.col("alias_norm"))
                   & (F.col("entity_type") == F.col("alias_type")))
        .select("entity_id", "canonical_name")
    )


def lsh_candidate_pairs(
    nodes: DataFrame,
    num_hash_tables: int = LSH_TABLES,
    log_excluded: bool = False,
) -> DataFrame:
    """D3 blocking via MinHash-LSH over name character ``NGRAM`` sets,
    restricted to same entity_type. Returns (id_a, id_b, name_a, name_b,
    type_a/b, lsh_distance) with id_a < id_b and lsh_distance below
    ``MAX_DISTANCE``.

    Uses pyspark.ml MinHashLSH: names -> char n-gram tokens -> binary
    HashingTF vectors (``FEATURES`` wide) -> approxSimilarityJoin. The join
    shuffles on LSH bucket keys — hot buckets (very common name shapes) are
    the skew risk; AQE skew-join splitting is on in the session defaults.

    The linkable universe is bounded to plausible entity surface forms
    (<= NAME_CHARS chars, <= NAME_WORDS words): extraction debris
    (whole captured clauses) shares sentence structure, floods LSH buckets
    quadratically, and is never a meaningful merge target. Measured: an
    unbounded self-join over a 150k-conversation node set ran minutes-to-
    hours; bounded, seconds. (The reference bounds the same work with its
    max_merges=100 cap, entity_merger.py:296.)

    Round-6 plan shape (guide §2.3/§2.4): the feature table is projected
    to exactly the columns the join needs (the approxSimilarityJoin's
    internal pair-distinct shuffles FULL structs of both sides — shipping
    padded/grams there doubled the exchange) and persisted, so the
    self-join's two sides scan one cache instead of recomputing
    nodes -> grams -> TF twice. Measured 8.9-11.8 s -> 6.3-6.8 s at
    sf0.1 with an identical pair set.

    Adaptive execution (``adaptive.cutover``): the linkable universe is
    bounded by DISTINCT surface forms, not corpus size (849 rows at bench
    scale, 222 mappings flat from 3k to 300k conversations), so the common
    case is a tiny feature table where the distributed explode-join-
    distinct pays ~2 s of pure scheduling. Within the row budget the
    banding join runs on the driver (``_driver_lsh_pairs``) over the
    COLLECTED model.transform output — Spark's own hash values and
    feature indices, so no hash function is reimplemented. The mirror
    declines a universe whose buckets would enumerate more than
    ``adaptive.LSH_PAIRS`` pairs; that universe, like one above the row
    budget — the 100 TB path — takes the distributed join.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from ..caching import track

    linkable = (F.length("name_norm") <= NAME_CHARS) & (
        F.size(F.split(F.col("name_norm"), r"\s+")) <= NAME_WORDS
    )
    if log_excluded:
        import logging

        n_excluded = nodes.where(~linkable).count()
        if n_excluded:
            logging.getLogger(__name__).warning(
                "entity linking: %d entities excluded from the linkable universe "
                "(name_norm > %d chars or > %d words); they keep their identity "
                "and are never merge candidates",
                n_excluded, NAME_CHARS, NAME_WORDS,
            )
    prepared = nodes.where(linkable).select(
        "entity_id", "name_norm", "entity_type",
        F.concat(F.lit("^^"), F.col("name_norm"), F.lit("$$")).alias("padded"),
    ).withColumn(
        # char n-grams via substring transform (no UDF)
        "grams",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("padded") - (NGRAM - 1), F.lit(1))),
                lambda i: F.col("padded").substr(i, F.lit(NGRAM)),
            )
        ),
    ).where(F.size("grams") > 0)

    tf = HashingTF(inputCol="grams", outputCol="features", numFeatures=FEATURES, binary=True)
    feat = track(tf.transform(prepared).select(
        "entity_id", "name_norm", "entity_type", "features"))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feat)
    hashed = model.transform(feat)
    id_t = nodes.schema["entity_id"].dataType.simpleString()
    got = adaptive.cutover(
        hashed, adaptive.LINK_ROWS,
        _driver_lsh_pairs,
        f"id_a {id_t}, id_b {id_t}, name_a string, name_b string, "
        "type_a string, type_b string, lsh_distance double",
    )
    if got is not None:
        return got.coalesce(1)
    joined = model.approxSimilarityJoin(hashed, hashed, MAX_DISTANCE, distCol="lsh_distance")
    return (
        joined.where(
            (F.col("datasetA.entity_id") < F.col("datasetB.entity_id"))
            & (F.col("datasetA.entity_type") == F.col("datasetB.entity_type"))
        )
        .select(
            F.col("datasetA.entity_id").alias("id_a"),
            F.col("datasetB.entity_id").alias("id_b"),
            F.col("datasetA.name_norm").alias("name_a"),
            F.col("datasetB.name_norm").alias("name_b"),
            F.col("datasetA.entity_type").alias("type_a"),
            F.col("datasetB.entity_type").alias("type_b"),
            "lsh_distance",
        )
    )


def _driver_lsh_pairs(rows) -> list | None:
    """Driver-side mirror of the approxSimilarityJoin candidate rule over
    collected ``model.transform`` rows: two rows are candidates iff they
    share at least one (hash-table index, hash value) bucket, and survive
    iff keyDistance = 1 - |A∩B|/|A∪B| over the feature indices is STRICTLY
    below ``MAX_DISTANCE`` (measured: a pair at exactly the threshold is
    dropped by the Scala join). Same-type and id_a < id_b filters match
    the distributed projection, null rejection included: a row with a
    null id or type pairs with nothing. All inputs (hash values, feature
    indices) come from the fitted Spark model itself, so no hash function
    is reimplemented and the two paths cannot drift.

    Enumerating every in-bucket pair costs the sum of C(|bucket|, 2),
    which a collision-heavy universe makes quadratic in its row count
    (5,000 md5-hex names gave 285k pairs). That sum is counted from the
    bucket sizes before any pair is built; above ``adaptive.LSH_PAIRS``
    the mirror returns None and the distributed join runs instead."""
    # hoist per-row fields out of the pair loops: per-row field access and
    # per-pair set(features.indices) construction dominated the banding on
    # collision-heavy corpora (285k bucket pairs from 5000 random-hex names
    # measured 5.4 s; precomputed, under 1 s — r6b)
    from itertools import combinations

    # rows: (entity_id, name_norm, entity_type, features, hashes)
    rows = [r for r in rows if r[0] is not None and r[2] is not None]
    buckets: dict = {}
    for i, r in enumerate(rows):
        for t, hv in enumerate(r[4]):
            buckets.setdefault((t, hv[0]), []).append(i)
    n_pairs = sum(len(m) * (len(m) - 1) // 2 for m in buckets.values())
    if n_pairs > adaptive.LSH_PAIRS:
        return None
    ids = [r[0] for r in rows]
    types = [r[2] for r in rows]
    names = [r[1] for r in rows]
    idx_sets = [frozenset(r[3].indices) for r in rows]
    cand: set = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        for i, j in combinations(members, 2):
            if types[i] != types[j] or ids[i] == ids[j]:
                continue
            cand.add((i, j) if ids[i] < ids[j] else (j, i))
    out = []
    for i, j in cand:
        ia, ib = idx_sets[i], idx_sets[j]
        inter = len(ia & ib)
        union = len(ia) + len(ib) - inter
        dist = 1.0 - (inter / union) if union else 1.0
        if dist < MAX_DISTANCE:
            out.append((ids[i], ids[j], names[i], names[j],
                        types[i], types[j], dist))
    return out


def name_similarity_col() -> F.Column:
    """Reference name similarity (llm_builders.py:437-469): exact 1.0,
    substring 0.8, else 1 - levenshtein/max_len."""
    a, b = F.col("name_a"), F.col("name_b")
    lev_ratio = 1.0 - F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b))
    return (
        F.when(a == b, 1.0)
        .when((F.instr(a, b) > 0) | (F.instr(b, a) > 0), 0.8)
        .otherwise(lev_ratio)
    )


def _jaccard_sets(a: F.Column, b: F.Column) -> F.Column:
    """Reference set-Jaccard with the both-empty=1.0 / one-empty=0.0
    convention (entity_merger.py:252-265)."""
    ea, eb = F.size(a) == 0, F.size(b) == 0
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return (
        F.when(ea & eb, 1.0)
        .when(ea | eb, 0.0)
        .otherwise(F.when(union > 0, inter / union).otherwise(0.0))
    )


def weighted_similarity_col() -> F.Column:
    """D2 (entity_merger.py:193-230): 0.4 name-word-Jaccard + 0.2 type-eq
    + 0.2 alias-Jaccard + 0.2 property-match. Alias arrays come from
    columns alias_a/alias_b when present (else empty); the regex path has
    no properties, so property similarity follows the both-empty=1.0
    convention."""
    wa = F.array_distinct(F.split(F.col("name_a"), r"\s+"))
    wb = F.array_distinct(F.split(F.col("name_b"), r"\s+"))
    name_j = _jaccard_sets(wa, wb)
    type_eq = (F.col("type_a") == F.col("type_b")).cast("double")
    # regex-path entities carry no aliases/properties: both-empty => 1.0
    # (entity_merger.py:252-256, 270-273); wire alias_a/alias_b columns
    # through _jaccard_sets when a source provides them
    alias_j = F.lit(1.0)
    prop_j = F.lit(1.0)
    return F.round(0.4 * name_j + 0.2 * type_eq + 0.2 * alias_j + 0.2 * prop_j, 6)


def score_candidates(pairs: DataFrame, name_sim_threshold: float = NAME_SIM) -> DataFrame:
    """D3 scoring on blocked survivors only."""
    return (
        pairs.withColumn("name_sim", F.round(name_similarity_col(), 6))
        .where(F.col("name_sim") > name_sim_threshold)
        .withColumn("weighted_sim", F.round(weighted_similarity_col(), 6))
    )


def stub_verify_model(pdf: pd.DataFrame) -> pd.Series:
    """Deterministic stand-in for the LLM duplicate verdict
    (llm_entity_extractor.py:77-111): duplicate iff high name similarity.
    Content-hash determinism — same pair, same verdict, any partitioning."""
    return (pdf["name_sim"] >= 0.8) | (pdf["name_a"] == pdf["name_b"])


def verify_pairs_batched(
    pairs: DataFrame,
    model: Callable[[pd.DataFrame], pd.Series] = stub_verify_model,
) -> DataFrame:
    """D4: batched pair verification — ONE model invocation per Arrow record
    batch (never per row), mirroring the reference's bounded-concurrency
    LLM verification (llm_builders.py:477-511)."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    # note: StructType.add mutates in place — build a fresh copy
    schema = StructType(
        list(pairs.schema.fields) + [StructField("is_duplicate", BooleanType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            pdf["is_duplicate"] = model(pdf)
            yield pdf

    return pairs.mapInPandas(kernel, schema=schema)


def canonical_mapping(confirmed_pairs: DataFrame) -> DataFrame:
    """D5: connected components over confirmed duplicate pairs; canonical id
    = min entity_id per component. Output (entity_id, canonical_id) only for
    ids whose canonical differs.

    Adaptive execution (``adaptive.cutover``): confirmed pairs are bounded
    by the distinct linkable surface forms, not corpus size (PLANS.md
    150k-conv run: 947k turns -> 2,362 candidates), so the common case is
    a TINY pair graph where the iterative distributed CC pays multiple
    jobs of pure scheduling overhead — measured 4.7 s for 437 pairs at
    bench scale. Within the budget the labels come from a driver-side
    union-find (milliseconds, same min-id semantics; it returns only
    non-root ids, which are exactly the ids whose canonical differs).
    Above it the iterative hash-min + pointer-jumping path runs: that is
    the 100 TB path when someone links without a candidate bound. Pairs
    with a null id are skipped (a null is never a mergeable entity id)."""
    id_t = confirmed_pairs.schema["id_a"].dataType.simpleString()
    got = adaptive.cutover(
        confirmed_pairs.select("id_a", "id_b"), adaptive.LINK_ROWS,
        lambda rows: list(driver_union_find(rows).items()),
        f"entity_id {id_t}, canonical_id {id_t}",
    )
    if got is not None:
        return got.coalesce(1)
    labels = connected_components(confirmed_pairs, src="id_a", dst="id_b")
    return labels.select(
        "entity_id", F.col("component").alias("canonical_id")
    ).where(F.col("entity_id") != F.col("canonical_id"))


def repoint_edges(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """D6: replace merged entity ids in both FK columns
    (entity_merger.py:118-147)."""
    mh = mapping.select(F.col("entity_id").alias("head_id"), F.col("canonical_id").alias("new_head"))
    mt = mapping.select(F.col("entity_id").alias("tail_id"), F.col("canonical_id").alias("new_tail"))
    return (
        edges.join(mh, "head_id", "left")
        .join(mt, "tail_id", "left")
        .withColumn("head_id", F.coalesce("new_head", "head_id"))
        .withColumn("tail_id", F.coalesce("new_tail", "tail_id"))
        .drop("new_head", "new_tail")
    )


def merge_nodes(nodes: DataFrame, mapping: DataFrame) -> DataFrame:
    """D5/D6 node-side merge: group by canonical id; keep max-confidence
    representative's name/type (reference keeps the higher-confidence
    entity's data, entity_extractor.py:117-120), union aliases, sum
    mentions."""
    withc = nodes.join(mapping, "entity_id", "left").withColumn(
        "canonical_id", F.coalesce("canonical_id", "entity_id")
    )
    return (
        withc.groupBy("canonical_id")
        .agg(
            F.max_by(F.struct("name", "name_norm", "entity_type"), F.struct("confidence", "entity_id")).alias("best"),
            F.max("confidence").alias("confidence"),
            F.array_distinct(
                F.flatten(F.collect_list(F.coalesce("aliases", F.array())))
            ).alias("aliases"),
            F.sum(F.coalesce("n_mentions", F.lit(1))).alias("n_mentions"),
        )
        .select(
            F.col("canonical_id").alias("entity_id"),
            F.col("best.name").alias("name"),
            F.col("best.name_norm").alias("name_norm"),
            F.col("best.entity_type").alias("entity_type"),
            "confidence",
            "aliases",
            "n_mentions",
        )
    )


def link_entities(
    nodes: DataFrame,
    alias_dict: DataFrame | None = None,
    model: Callable[[pd.DataFrame], pd.Series] = stub_verify_model,
    log_excluded: bool = False,
) -> DataFrame:
    """Full D3->D4->D5 chain: returns the (entity_id, canonical_id) mapping.

    Alias-dictionary hits are injected as extra confirmed pairs: every
    entity pair sharing a canonical alias target is a duplicate pair.

    ``NAME_CHARS`` / ``NAME_WORDS`` bound the linkable universe (the
    LSH skew guard — extraction debris floods buckets quadratically);
    entities beyond the bound are never merged and, with ``log_excluded``,
    their count is logged so the recall trade is visible."""
    pairs = score_candidates(lsh_candidate_pairs(nodes, log_excluded=log_excluded))
    verified = verify_pairs_batched(pairs, model).where(F.col("is_duplicate"))
    confirmed = verified.select("id_a", "id_b")
    if alias_dict is not None:
        hits = alias_link(nodes, alias_dict)
        by_target = hits.alias("x").join(
            hits.alias("y"),
            (F.col("x.canonical_name") == F.col("y.canonical_name"))
            & (F.col("x.entity_id") < F.col("y.entity_id")),
        ).select(F.col("x.entity_id").alias("id_a"), F.col("y.entity_id").alias("id_b"))
        confirmed = confirmed.unionByName(by_target).distinct()
    return canonical_mapping(confirmed)
