"""Embedding / vector retrieval operators (SURVEY.md §2.8, V1-V7) plus the
scale-path ANN variants a 100 TB training-data pipeline needs.

Distributed similarity math is JVM-side column expressions over
``array<float>`` (``zip_with`` + ``aggregate``). The folds are
higher-order functions, which run interpreted (CodegenFallback), so
pairwise operators hoist per-vector work out of the pair expression
(``cosine_hoisted``). A single-query top-k over at most
``adaptive.VECTOR_VALUES`` values (rows x dim) runs on the driver instead
(``driver_topk``): numpy folds the same cosine column by column, as the
reference scans a dict of np arrays
(/root/reference/agraph/storage/vector_storage.py:310-353).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from . import adaptive


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """V3: dot/(|a||b|), 0.0 on zero norm (vector_storage.py:334-353).
    Kept as the inline reference that test_properties holds
    ``cosine_hoisted`` to, bit for bit; operators score through
    ``cosine_scores``."""
    na, nb = norm(a), norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


def cosine_hoisted(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with the per-vector norms precomputed by the caller
    (``norm`` over each side's vector column, hoisted out of the pairwise
    expression). Bitwise-identical to ``cosine``: the same ``sqrt(fold)``
    runs on the same array either way, so hoisting only changes WHERE the
    fold executes, not its float result (asserted pairwise in
    test_properties). Use for pairwise self-joins — higher-order functions
    are CodegenFallback (interpreted), so dropping 2 of the 3 folds per
    pair measured 6.1 -> 2.2 s on the 200k-pair v_label_pairs (r6c)."""
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


def cosine_scores(embeddings: DataFrame, query: DataFrame) -> DataFrame:
    """Score every row's ``embedding`` against a single query vector (a
    1-row DataFrame of ``query_vec``, broadcast by Catalyst). V4 minus the
    top-k cut, and the one scorer in every single-query search's Spark plan
    (topk_similar, the ANN reranks, retrieval.py); ``driver_topk``
    reproduces its floats. r6c:
    norms hoisted (see cosine_hoisted) — query norm once in the broadcast
    frame, row norm once per row; scores bitwise-identical to the inline
    cosine."""
    q = F.broadcast(
        query.withColumn("_nq", norm(F.col("query_vec").cast("array<double>")))
    )
    return (
        embeddings.withColumn("_na", norm(F.col("embedding").cast("array<double>")))
        .crossJoin(q)
        .withColumn(
            "score",
            cosine_hoisted(
                F.col("embedding").cast("array<double>"),
                F.col("query_vec").cast("array<double>"),
                F.col("_na"),
                F.col("_nq"),
            ),
        )
        .drop("query_vec", "_na", "_nq")
    )


def topk_similar(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    threshold: float = 0.0,
    id_col: str = "vec_id",
) -> DataFrame:
    """V4: brute-force top-k (vector_storage.py:310-332): score all, sort
    desc (id tiebreak), take k, keep score >= threshold. One scan + one
    small sort — the right plan for a single query at any scale. The
    threshold keeps a prefix of the order, so filtering after the limit
    gives the rows of filtering first without scoring each row twice
    (see retrieval._namespace_topk). Served by ``driver_topk`` when it
    can reproduce the plan's rows."""
    local = driver_topk(embeddings, query, k, threshold, id_col)
    if local is not None:
        return local
    scored = cosine_scores(embeddings, query)
    return (
        scored.orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
        .where(F.col("score") >= threshold)
    )


def driver_topk(
    frame: DataFrame,
    query: DataFrame,
    k: int | dict,
    threshold: float,
    id_col: str,
    group_col: str | None = None,
) -> DataFrame | None:
    """The rows of ``cosine_scores(frame, query)`` ranked by (score desc,
    id asc), cut to the top ``k`` and then to score >= threshold, as a
    local frame in rank order, or None when the caller must run its plan.
    With ``group_col`` the cut is per group, ``k`` may map group -> k (a
    group it lacks keeps nothing) and each row carries its 1-based rank
    ``rk``, the window plan's row_number.

    ``frame`` is collected by ``adaptive.cutover`` as a pyarrow Table
    under ``adaptive.VECTOR_VALUES // dim`` rows, once per cache over
    persisted data. The cosine folds the columns left to right in double,
    as ``cosine_hoisted``'s aggregate does, so the scores are bitwise
    equal. Declines, keeping Spark's three-valued nulls, zip_with padding
    and NaN-first order, unless ``query`` is one row of one non-empty
    float array (its only column, ``query_vec``), every ``embedding`` is
    a non-null float array of that length and every score is finite."""
    cols = set(frame.columns)
    ks = list(k.values()) if isinstance(k, dict) else [k]
    if (min(ks, default=0) < 0 or query.columns != ["query_vec"]
            or not {"embedding", id_col, group_col or id_col} <= cols
            or cols & {"score", "rk", "_na", "_nq", "query_vec"}):
        return None
    got = query.select("query_vec").limit(2).collect()
    if len(got) != 1 or not got[0][0] or any(type(x) is not float for x in got[0][0]):
        return None
    q = list(got[0][0])
    fields = [*frame.schema.fields, StructField("score", DoubleType(), True)]
    if group_col is not None:
        fields.append(StructField("rk", IntegerType(), False))
    return adaptive.cutover(
        frame, adaptive.VECTOR_VALUES // len(q),
        lambda table: _topk_rows(table, q, k, threshold, id_col, group_col),
        StructType(fields), arrow=True,
    )


def _topk_rows(table, q, k, threshold, id_col, group_col) -> list | None:
    """``driver_topk``'s mirror over the collected pyarrow ``table``. It
    reads the few rows it returns one value at a time: ``take`` on a
    chunked table copies every chunk first (~2 MB of peak RSS at the
    first chat query)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = table.column(id_col)
    if not (pa.types.is_string(ids.type) or pa.types.is_integer(ids.type)):
        return None  # Python orders these as Spark does
    scores = _cosine_fold(table.column("embedding"), q)
    if scores is None:
        return None
    if group_col is None:
        groups = [(None, np.arange(len(scores)))]
    else:
        g = table.column(group_col)
        if g.null_count:
            return None
        groups = [(v, np.flatnonzero(pc.equal(g, v).to_numpy()))
                  for v in pc.unique(g).to_pylist()]
    picked = []
    for v, idx in groups:
        kv = k.get(v) if isinstance(k, dict) else k
        if not kv or not len(idx):
            continue
        s = scores[idx]
        cut = len(s) - min(kv, len(s))
        cand = idx[s >= np.partition(s, cut)[cut]].tolist()  # the top kv and ties at the cut
        key = {i: (-scores[i], ids[i].is_valid, ids[i].as_py()) for i in cand}  # nulls first
        top = sorted(cand, key=key.__getitem__)[:kv]
        # the threshold keeps a prefix, as the scores descend
        picked += [(i, rk) for rk, i in enumerate(top, 1) if scores[i] >= threshold]
    rows = [(*(c[i].as_py() for c in table.columns), float(scores[i]), rk) for i, rk in picked]
    return rows if group_col is not None else [row[:-1] for row in rows]


def _cosine_fold(vectors, q: list[float]) -> np.ndarray | None:
    """``cosine_hoisted`` of each row of ``vectors`` (a pyarrow list
    column) against ``q``, bit for bit: both norms and the dot fold from
    0.0 left to right in double, one column at a time over zero-copy
    (rows, dim) views of each chunk. None on a null, ragged or
    non-float row and on a non-finite or negative-zero score."""
    import pyarrow as pa

    t = vectors.type
    if not ((pa.types.is_list(t) or pa.types.is_large_list(t))
            and pa.types.is_floating(t.value_type) and not pa.types.is_float16(t.value_type)):
        return None
    dim = len(q)
    nq = 0.0
    for x in q:
        nq = nq + x * x
    nq = math.sqrt(nq)
    parts = []
    for chunk in vectors.chunks:
        m = len(chunk)
        offsets = chunk.offsets.to_numpy()
        if chunk.null_count or (np.diff(offsets) != dim).any():
            return None
        values = chunk.values.slice(int(offsets[0]), m * dim)
        if values.null_count:
            return None
        rows = values.to_numpy().reshape(m, dim)
        dot, sq = np.zeros(m), np.zeros(m)
        for i in range(dim):
            x = rows[:, i].astype(np.float64)
            dot = dot + x * q[i]
            sq = sq + x * x
        na = np.sqrt(sq)
        with np.errstate(divide="ignore", invalid="ignore"):
            parts.append(np.where((na == 0) | (nq == 0), 0.0, dot / (na * nq)))
    scores = np.concatenate(parts) if parts else np.zeros(0)
    if not np.isfinite(scores).all() or np.signbit(scores[scores == 0]).any():
        return None
    return scores


def hyperplane_lsh_bucket(
    vec_col: Column, planes: list[list[float]]
) -> Column:
    """Scale path: sign-random-projection bucket id (one bit per plane).
    ``planes`` is a small driver-side list (seeded), compiled into column
    expressions — JVM-side, no UDF."""
    bits = []
    for i, p in enumerate(planes):
        lit = F.array(*[F.lit(float(x)) for x in p])
        bits.append(
            F.when(dot(vec_col.cast("array<double>"), lit) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def ann_topk_lsh(
    embeddings: DataFrame,
    query: DataFrame,
    planes: list[list[float]],
    k: int = 10,
) -> DataFrame:
    """ANN: restrict the exact rerank to the query's LSH bucket.
    At 100 TB the bucket column is a partition/cluster key so the scan
    prunes to 1/2^p of the data; here it is computed on the fly."""
    bucketed = embeddings.withColumn("bucket", hyperplane_lsh_bucket(F.col("embedding"), planes))
    qb = query.select(hyperplane_lsh_bucket(F.col("query_vec"), planes).alias("bucket"))
    cand = bucketed.join(F.broadcast(qb), "bucket")
    return cosine_scores(cand, query).orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


def ivf_index(
    embeddings: DataFrame, n_centroids: int = 16
) -> tuple[DataFrame, list[list[float]]]:
    """IVF scale path: coarse k-means centroids (fit on the data via
    pyspark.ml, sample-friendly), every vector assigned to its nearest
    centroid. At 100 TB the centroid id is the partition key: a query
    probes 1-few partitions instead of the corpus. Returns (assigned_df
    with 'centroid' column, centroid list)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = embeddings.withColumn("_v", array_to_vector(F.col("embedding").cast("array<double>")))
    km = KMeans(k=n_centroids, seed=42, featuresCol="_v", predictionCol="centroid")
    model = km.fit(feat)
    assigned = model.transform(feat).drop("_v")
    centroids = [
        (c.toArray() if hasattr(c, "toArray") else c).tolist()
        for c in model.clusterCenters()
    ]
    return assigned, centroids


def ivf_assign(embeddings: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Assignment-only IVF: nearest centroid (squared L2, lowest index on
    ties) as pure column expressions — the deterministic, oracle-
    certifiable half of the IVF path (v_ann_ivf/v_ann_ivf_hist twin it in
    DuckDB). ``ivf_index`` remains the production fit (KMeans); this
    function is what a pipeline runs when centroids are already trained
    and shipped as a literal/broadcast — the common serving shape at
    100 TB, where assignment is a map-only pass."""
    cs = F.array(*[
        F.struct(
            F.lit(i).alias("i"),
            F.array(*[F.lit(float(x)) for x in c]).alias("v"),
        )
        for i, c in enumerate(centroids)
    ])
    v = F.col("embedding").cast("array<double>")

    def d2(c):
        return F.aggregate(
            F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # one distance per centroid, then array_min over (d, i) structs —
    # struct ordering breaks ties on the lower index, matching a stable
    # argmin (and computing each distance once, unlike a fold with the
    # distance in the predicate)
    best = F.array_min(
        F.transform(cs, lambda c: F.struct(d2(c["v"]).alias("d"), c["i"].alias("i")))
    )
    return embeddings.withColumn("centroid", best["i"])


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Probe the n_probe nearest centroids' partitions, exact cosine rerank
    inside them. Driver picks probe ids (centroid count is tiny); the scan
    prunes on the centroid column."""
    import numpy as np

    c = np.asarray(centroids, dtype=float)
    q = np.asarray(query_vec, dtype=float)
    dists = ((c - q) ** 2).sum(axis=1)
    # stable sort: equidistant centroids tie-break on the LOWER index,
    # matching the v_ann_ivf oracle's (distance, cid) ordering
    probes = [int(i) for i in np.argsort(dists, kind="stable")[:n_probe]]
    spark = assigned.sparkSession
    from ..session import local_df

    qdf = local_df(spark, [(query_vec,)], "query_vec array<double>")
    cand = assigned.where(F.col("centroid").isin(probes))
    scored = cosine_scores(cand, qdf)
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


def render_entity_text(nodes: DataFrame) -> DataFrame:
    """V1: text rendering for embedding — name + description + aliases
    (OpenAIEmbedding._entity_to_text, graph_embedding.py:529-537) as one
    concat_ws expression. Empty description contributes nothing (the
    reference's truthiness check)."""
    return nodes.withColumn(
        "render_text",
        F.concat_ws(
            " ",
            F.col("name"),
            F.when(F.length(F.coalesce("description", F.lit(""))) > 0, F.col("description")),
            F.when(
                F.size(F.coalesce(F.col("aliases"), F.array())) > 0,
                F.concat(F.lit("别名: "), F.concat_ws(", ", F.col("aliases"))),
            ),
        ),
    )


def render_relation_text(edges: DataFrame) -> DataFrame:
    """V1 relation side (OpenAIEmbedding._relation_to_text,
    graph_embedding.py:539-548): "head pred tail" + optional description;
    bare pred when endpoints are missing."""
    base = F.when(
        F.col("head_name").isNotNull() & F.col("tail_name").isNotNull(),
        F.concat_ws(" ", "head_name", "pred", "tail_name"),
    )
    desc = F.when(
        F.length(F.coalesce("description", F.lit(""))) > 0, F.col("description")
    )
    joined = F.concat_ws(" ", base, desc)
    return edges.withColumn(
        "render_text", F.when(F.length(joined) > 0, joined).otherwise(F.col("pred"))
    )


def render_chunk_text(chunks: DataFrame) -> DataFrame:
    """V1 chunk side (base GraphEmbedding._text_chunk_to_text,
    graph_embedding.py:345-370): Title/Content/Source/Type/Metadata labeled
    parts joined with " | ". chunk_type defaults to "paragraph" in the
    reference TextChunk, so the Type part is always present there — a
    missing chunk_type column here takes the same default. Metadata renders
    as "k: v" pairs comma-joined from a map column when one exists."""
    cols = chunks.columns
    part = lambda label, col: F.when(
        F.length(F.coalesce(col, F.lit(""))) > 0, F.concat(F.lit(label), col)
    )
    chunk_type = (
        F.coalesce(F.col("chunk_type"), F.lit("paragraph"))
        if "chunk_type" in cols
        else F.lit("paragraph")
    )
    meta = (
        F.when(
            F.size(F.coalesce(F.col("metadata"), F.create_map())) > 0,
            F.concat(
                F.lit("Metadata: "),
                F.concat_ws(
                    ", ",
                    F.transform(
                        F.map_entries("metadata"),
                        lambda e: F.concat_ws(": ", e["key"], e["value"]),
                    ),
                ),
            ),
        )
        if "metadata" in cols
        else F.lit(None)
    )
    return chunks.withColumn(
        "render_text",
        F.concat_ws(
            " | ",
            part("Title: ", F.col("title") if "title" in cols else F.lit(None)),
            part("Content: ", F.col("content")),
            part("Source: ", F.col("source") if "source" in cols else F.lit(None)),
            part("Type: ", chunk_type),
            meta,
        ),
    )


def embed_hash_stub(df: DataFrame, text_col: str = "render_text", dim: int = 16) -> DataFrame:
    """V2 stand-in encoder: deterministic hash-derived embedding, computed
    JVM-side (xxhash64 over salted text), unit-scale-ish. The production
    encoder swaps in a batched-inference mapInPandas kernel (one model call
    per Arrow batch, graph_embedding.py:549-598 semantics); tests use this
    stub so results are reproducible with zero network.

    Built as one SQL expression, one py4j call instead of ~8 per
    component: a 16-dim query vector builds in 28 ms, not 132 ms (local[4],
    median of 20). The ``D`` suffix keeps the divisor a double, as the
    Python float literal was (SQL ``1000.0`` is a decimal)."""
    col = "`" + text_col.replace("`", "``") + "`"
    comps = ", ".join(
        f"cast((pmod(xxhash64(concat({col}, '#{i}')), 2000) - 1000) / 1000.0D as float)"
        for i in range(dim)
    )
    return df.withColumn("embedding", F.expr(f"array({comps})"))


def embed_md5_stub(df: DataFrame) -> DataFrame:
    """embed_hash_stub's oracle-twinnable sibling: 8 components of
    ``render_text``, md5-derived doubles ((md5_hash60 % 2000 - 1000)/1000)
    that a DuckDB oracle reproduces bit-for-bit (__spark_entry__
    kg_search_multi_md5). Costs 8 string md5s per row — the xxhash64 stub
    stays the default."""
    from .dedup_docs import md5_hash60

    comps = [
        ((F.pmod(md5_hash60(F.col("render_text"), i), F.lit(2000)) - 1000) / 1000.0).cast("double")
        for i in range(8)
    ]
    return df.withColumn("embedding", F.array(*comps))
