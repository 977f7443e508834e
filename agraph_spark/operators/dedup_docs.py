"""Document-level deduplication for training-data pipelines: exact,
n-gram Jaccard (inverted-index join), MinHash+LSH, SimHash.

Scale notes (the whole point of these):
- Exact: one groupBy on a fingerprint hash — the cheapest pass, run first.
- N-gram Jaccard: NEVER all-pairs. Explode distinct shingles, drop shingles
  that occur in too many docs (stop-shingle cap — they only produce junk
  pairs and are the skew source), self-join the inverted index, count
  intersections, compute |A∩B|/(|A|+|B|-|A∩B|).
- MinHash: k independent permutations approximated by k salted xxhash64
  mins — computed in one explode+groupBy; LSH bands group signatures into
  buckets so candidate pairs come from bucket joins, not comparisons.
- SimHash: 64-bit majority-of-token-hash-bits fingerprint; near-dup = low
  Hamming distance within same band buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import track
from .textstats import fingerprint

# Skew caps, read when each plan is built
SHINGLE_DOCS = 200  # ngram_jaccard_pairs drops shingles in more docs than this
BUCKET_DOCS = 5000  # LSH band buckets above this many docs are dropped


def exact_dup_groups(df: DataFrame) -> DataFrame:
    """Groups of byte-identical (whitespace-normalized) documents
    (``doc_id``, ``text``)."""
    return (
        df.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("keeper_id"))
        .where(F.col("cnt") > 1)
    )


def word_shingles(words: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles of a word array; a document with fewer
    than n words gives one whole-text shingle.

    ``words`` must be a column reference, not the split expression:
    higher-order lambdas run interpreted with no common-subexpression
    elimination, so an expression referenced inside ``transform`` is
    re-evaluated for every shingle (quadratic in document length)."""
    return F.array_distinct(
        F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", words)))
    )


def shingle_table(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc, shingle) rows over the words of ``doc_id``'s str.strip()-ed,
    lower-cased ``text`` split on unicode whitespace. The word array is
    projected once per document before the explode (Catalyst keeps it a
    separate projection because it is referenced more than once and is not
    cheap)."""
    from ..session import spread
    from .textstats import pystrip

    words = F.split(F.lower(pystrip(F.col("text"))), r"(?U)\s+")
    return (
        spread(df)
        .select(F.col("doc_id").alias("doc"), words.alias("words"))
        .select("doc", F.explode(word_shingles(F.col("words"), n)).alias("shingle"))
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5, n: int = 3) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard >= threshold.

    Inverted-index join: pairs only share-a-shingle docs are compared.
    ``SHINGLE_DOCS`` drops shingles present in more than that many docs
    (hot-key/skew guard; such shingles are boilerplate and only inflate the
    candidate pair space quadratically)."""
    # Round-6 note: this operator is intentionally UNCHANGED from round 5.
    # Two restructures were tried and reverted with sf1 A/B evidence:
    # (1) the hot-shingle cap as a window count (exchange reuse with the
    # self-join) full-sorts the 15M-row sf1 shingle table — 29.5 s -> 142 s;
    # the cap must stay aggregation-shaped (map-side partial agg) at scale.
    # (2) eager sh materialization + tracked sizes/hot (the racing-cache
    # fix that helps minhash) costs an extra full pass over the shingle
    # table at sf1 (~15-25% slower, A/B/A 42.4/31.6/35.9 vs r5) while
    # buying nothing at sf0.1 — the duplicated aggregate subtrees are
    # cheap partial aggregations, and the inverted-index self-join
    # dominates at every scale.
    sh = track(shingle_table(df, n))
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    hot = (
        sh.groupBy("shingle").agg(F.count("*").alias("df_cnt"))
        .where(F.col("df_cnt") > SHINGLE_DOCS)
        .select("shingle")
    )
    filtered = sh.join(hot, "shingle", "left_anti")
    a = filtered.alias("a")
    b = filtered.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def md5_hash60(col: F.Column, seed: int) -> F.Column:
    """Deterministic 60-bit integer hash both Spark and DuckDB can compute
    bit-identically: top 15 hex chars of md5(seed || '#' || value). Slower
    than seeded xxhash64 (string md5 per (shingle, seed)) — used by the
    oracle-twinnable hash_mode, not the default path."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("#", F.lit(str(seed)), col)), 1, 15), 16, 10
    ).cast("bigint")


def minhash_signatures(
    df: DataFrame, num_hashes: int = 32, hash_mode: str = "xxhash64"
) -> DataFrame:
    """(doc, sig: array<bigint>) — k seeded-hash min values over the
    word-3-gram shingle set. One explode + one groupBy; no UDF.

    hash_mode "xxhash64" (default): each shingle string is hashed ONCE
    (variable-length input); the k per-permutation hashes re-hash that
    8-byte long with a seed column — k cheap fixed-width hashes instead of
    k string hashes (measured ~2x on the signature stage).
    hash_mode "md5": md5-derived 60-bit hashes a SQL oracle can reproduce
    exactly (DuckDB has no xxhash64) — the correctness-twin mode."""
    sh = shingle_table(df)
    if hash_mode == "md5":
        mins = [
            F.min(md5_hash60(F.col("shingle"), i)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        sh = sh.withColumn("h", F.xxhash64(F.col("shingle")))
        mins = [
            F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    sig = sh.groupBy("doc").agg(*mins)
    return sig.select("doc", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def _cap_buckets(band_rows: DataFrame, keys: list[str]) -> DataFrame:
    """Drop LSH buckets larger than ``BUCKET_DOCS`` before the
    within-bucket self-join. A boilerplate-heavy corpus (the normal case for
    web/training data) puts millions of near-identical docs in one band
    bucket; the self-join then explodes quadratically on a single shuffle
    key. Same skew guard as ngram_jaccard_pairs' hot-shingle cap. Dropped
    buckets mean dropped candidates only when a pair collides in NO other
    band — the standard LSH recall/cost trade, made explicit and logged.

    The rows are persisted with their bucket size, and the one aggregate
    that counts the hot buckets for the log line is the job that builds
    that cache (and the upstream signature cache) ONCE, before the
    self-join's two sides and the verify branch would race them."""
    import logging

    from pyspark.sql import Window

    # window, not groupBy+anti-join: one shuffle on the SAME keys the
    # downstream self-join uses (exchange reuse)
    w = Window.partitionBy(*[F.col(k) for k in keys])
    sized = track(band_rows.withColumn("_bucket_size", F.count("*").over(w)))
    hot = F.when(F.col("_bucket_size") > BUCKET_DOCS, F.struct(*keys))
    n_hot = sized.agg(F.count_distinct(hot)).first()[0]
    if n_hot:
        logging.getLogger(__name__).warning(
            "LSH: dropping %d band buckets larger than %d docs", n_hot, BUCKET_DOCS
        )
    return sized.where(F.col("_bucket_size") <= BUCKET_DOCS).drop("_bucket_size")


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH near-dup candidates verified by estimated Jaccard.

    Band buckets: docs agreeing on all rows of any band collide; candidate
    pairs come from within-bucket joins (shuffle keyed by (band, bucket
    hash) — bounded by bucket sizes, not corpus size). Estimated Jaccard =
    fraction of agreeing minhash components. Buckets above
    ``BUCKET_DOCS`` are dropped before the self-join (skew guard; see
    _cap_buckets) — exact-duplicate floods should be removed first by the
    cheaper exact_dup_groups pass.

    hash_mode "md5" swaps in SQL-reproducible signature hashes (md5_hash60)
    and keeps the band bucket as the raw comma-joined band values (string)
    so a DuckDB oracle can match the output bit-for-bit
    (__spark_entry__ dd_minhash_md5)."""
    rows = num_hashes // bands
    sig = track(minhash_signatures(df, num_hashes, hash_mode))
    band_vals = [
        F.concat_ws(",", *[F.element_at("sig", b * rows + r + 1).cast("string") for r in range(rows)])
        for b in range(bands)
    ]
    if hash_mode != "md5":
        # hash the band string to a cheap fixed-width join key (the string
        # form stays only in the oracle-twin mode, where DuckDB must agree)
        band_vals = [F.xxhash64(c) for c in band_vals]
    band_rows = sig.select(
        "doc", F.posexplode(F.array(*band_vals)).alias("band", "bucket")
    )
    # capped rows come from a cache built eagerly (see ngram_jaccard_pairs):
    # uncached, each self-join side re-ran the explode + window-cap subtree
    # (one extra exchange + sort per side, plan-audited r6), and the lazy
    # caches raced the verify branch (measured 5.7 -> 3.5 s cold at sf0.1)
    band_rows = _cap_buckets(band_rows, ["band", "bucket"])
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                    lambda v: v == 1,
                )
            )
            / F.lit(num_hashes),
        )
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )
    return est


def simhash64(df: DataFrame, hash_mode: str = "xxhash64") -> DataFrame:
    """SimHash over word tokens: per-bit majority of token hashes.

    Explode tokens, hash each, aggregate per-bit +1/-1 sums, assemble bits
    — one groupBy, JVM-side bit arithmetic. hash_mode "xxhash64" (default)
    uses bits 0..62 of xxhash64; "md5" uses the 60-bit md5-derived hash a
    DuckDB oracle reproduces exactly (__spark_entry__ dd_simhash_md5)."""
    from ..session import spread

    toks = spread(df).select(
        F.col("doc_id").alias("doc"),
        F.explode(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0)).alias("tok"),
    )
    if hash_mode == "md5":
        # SQL-reproducible: 60-bit md5-derived token hash (md5_hash60, seed
        # 0), fingerprint over bits 0..59 — the oracle-twin mode
        toks = toks.withColumn("h", md5_hash60(F.col("tok"), 0))
        n_bits = 60
    else:
        toks = toks.withColumn("h", F.xxhash64("tok"))
        n_bits = 63  # bit 63 kept zero to stay in signed range
    bit_sums = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(n_bits)
        ]
    )
    sim = bit_sums.select(
        "doc",
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long") * (2**i)).otherwise(F.lit(0).cast("long"))
                for i in range(n_bits)
            ]
        ).alias("simhash"),
    )
    return sim


def hamming64(a: F.Column, b: F.Column) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    band_bits: int = 16,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit bands
    (a pair within Hamming<=3 of 64 bits must agree on >=1 of 4 bands).
    Band buckets above ``BUCKET_DOCS`` are dropped before the self-join
    (skew guard, see _cap_buckets)."""
    sim = track(simhash64(df, hash_mode))
    bands = sim.select(
        "doc",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * band_bits).bitwiseAND(F.lit((1 << band_bits) - 1))
                    for i in range(64 // band_bits)
                ]
            )
        ).alias("band", "key"),
    )
    # capped rows from an eagerly built cache (see minhash_lsh_pairs)
    bands = _cap_buckets(bands, ["band", "key"])
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
