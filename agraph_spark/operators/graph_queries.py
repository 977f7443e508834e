"""Read-side query filters, incremental upserts, graph merging, reports
(SURVEY.md F1-F3, D9, D10, A10, A13, A14, G8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df
from . import adaptive

# chunk_similarity's skew cap, read when the plan is built: entities linked
# to more chunks than this are dropped from candidate generation
ENTITY_CHUNKS = 10_000


# ------------------------------------------------------------- F1-F3 query

def query_entities(
    nodes: DataFrame,
    entity_type: str | None = None,
    name_contains: str | None = None,
    min_confidence: float | None = None,
    limit: int = 100,
) -> DataFrame:
    """F1 (json_storage.py:151-188): type eq + name substring +
    min-confidence + limit. Pure filters — pushed into the scan."""
    df = nodes
    if entity_type is not None:
        df = df.where(F.col("entity_type") == entity_type)
    if name_contains is not None:
        df = df.where(F.instr(F.lower("name"), name_contains.lower()) > 0)
    if min_confidence is not None:
        df = df.where(F.col("confidence") >= min_confidence)
    return df.orderBy("entity_id").limit(limit)


def query_relations(
    edges: DataFrame,
    head_id: str | None = None,
    tail_id: str | None = None,
    pred: str | None = None,
) -> DataFrame:
    """F2 (json_storage.py:190-228): FK-column equality filters."""
    df = edges
    if head_id is not None:
        df = df.where(F.col("head_id") == head_id)
    if tail_id is not None:
        df = df.where(F.col("tail_id") == tail_id)
    if pred is not None:
        df = df.where(F.col("pred") == pred)
    return df


def query_chunks(
    chunks: DataFrame,
    chunk_type: str | None = None,
    source: str | None = None,
    contains_entity: str | None = None,
    entity_links: DataFrame | None = None,
) -> DataFrame:
    """F3 (json_storage.py:490-688): type/source filters + entity-link
    membership via semi-join (the reference's set-membership arrays)."""
    df = chunks
    if chunk_type is not None:
        df = df.where(F.col("chunk_type") == chunk_type)
    if source is not None and "source" in df.columns:
        df = df.where(F.col("source") == source)
    if contains_entity is not None and entity_links is not None:
        hit = entity_links.where(F.col("name_norm") == contains_entity).select("chunk_id")
        df = df.join(hit, "chunk_id", "left_semi")
    return df


# ---------------------------------------------------------- D9 incremental

def upsert_nodes(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """D9 (llm_builders.py:616-649): new entities matched against the
    existing graph by name_norm — matches merge (max confidence, union
    aliases, sum mentions), misses insert. Parquet expression of
    ``MERGE INTO nodes USING batch ON name_norm``; with an Iceberg catalog
    the same statement runs natively."""
    all_rows = existing.withColumn("_src", F.lit(0)).unionByName(
        batch.withColumn("_src", F.lit(1)), allowMissingColumns=True
    )
    return (
        all_rows.groupBy("name_norm")
        .agg(
            F.min_by(F.struct("entity_id", "name", "entity_type"), "_src").alias("keep"),
            F.max("confidence").alias("confidence"),
            F.array_distinct(
                F.flatten(F.collect_list(F.coalesce("aliases", F.array())))
            ).alias("aliases"),
            F.sum(F.coalesce("n_mentions", F.lit(1))).alias("n_mentions"),
        )
        .select(
            F.col("keep.entity_id").alias("entity_id"),
            F.col("keep.name").alias("name"),
            "name_norm",
            F.col("keep.entity_type").alias("entity_type"),
            "confidence",
            "aliases",
            "n_mentions",
        )
    )


def remove_conversations(table: DataFrame, conv_ids: list[str]) -> DataFrame:
    """F6 lineage removal: DELETE WHERE conv_id IN (...) — anti-join on the
    lineage column (Iceberg: a real DELETE; parquet: partition rewrite)."""
    return table.where(~F.col("conv_id").isin(conv_ids))


# ------------------------------------------------------------ D10 merging

def merge_graphs(
    nodes_list: list[DataFrame], edges_list: list[DataFrame]
) -> tuple[DataFrame, DataFrame]:
    """D10 (mixins.py:42-96): concat N graphs, align entities by normalized
    name, repoint edge FKs to the surviving id, drop edges whose endpoints
    vanished. Edges that collapse onto one (head_id, tail_id, pred) keep
    the row of the earliest graph in ``edges_list``, ties on the smaller
    edge_id — first-seen wins, whatever the partitioning."""
    from functools import reduce

    from .integrity import enforce_referential_integrity
    from .linking import merge_nodes, repoint_edges

    nodes = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), nodes_list)
    edges = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [e.withColumn("_graph", F.lit(i)) for i, e in enumerate(edges_list)],
    )
    # survivor per name_norm = min entity_id (deterministic)
    survivor = nodes.groupBy("name_norm").agg(F.min("entity_id").alias("canonical_id"))
    mapping = (
        nodes.join(survivor, "name_norm")
        .where(F.col("entity_id") != F.col("canonical_id"))
        .select("entity_id", "canonical_id")
    )
    merged_nodes = merge_nodes(nodes, mapping)
    cols = [c for c in edges.columns if c != "_graph"]
    merged_edges = (
        repoint_edges(edges, mapping)
        .groupBy("head_id", "tail_id", "pred")
        .agg(F.min_by(F.struct(*cols), F.struct("_graph", "edge_id")).alias("keep"))
        .select(*[F.col(f"keep.{c}").alias(c) for c in cols])
    )
    return merged_nodes, enforce_referential_integrity(merged_nodes, merged_edges)


# -------------------------------------------------------------- A10 paths

def _driver_all_paths(pairs: list, start_id, targets: set, max_depth: int,
                      stop_at_first_hit: bool, multi: bool, op: str) -> list | None:
    """Driver-side mirror of ``_walk_paths`` over the collected raw
    (src, dst) pairs, deduplicated here as the loop deduplicates its
    adjacency: identical cap-then-extend order, identical per-pivot
    (node, path-order) capping, identical early-exit and stop-at-target
    semantics, so both execution paths emit the same rows — (path, depth),
    or (target, path, depth) when ``multi``. Returns None when a dense
    graph blows ``adaptive.FRONTIER_ROWS`` — the caller falls back to the
    distributed loop."""
    from .components import _cap_frontier_driver

    adj: dict = {}
    for a, b in dict.fromkeys(pairs):
        # null semantics must mirror the loop exactly: a null dst is
        # dropped by the loop's ~array_contains(path, dst) (null-valued
        # predicate filters the row), and a null src never equi-joins —
        # so null endpoints contribute nothing on either side
        if a is None or b is None:
            continue
        adj.setdefault(a, []).append(b)
    targets = {t for t in targets if t is not None}  # a null key never joins
    frontier = [(start_id, (start_id,))]
    found: list = []
    for _ in range(max_depth):
        frontier = _cap_frontier_driver(frontier, 0, 1, op)
        if not frontier:
            break
        stepped = []
        for node, path in frontier:
            for dst in adj.get(node, ()):
                if dst not in path:
                    stepped.append((dst, path + (dst,)))
            if len(stepped) > adaptive.FRONTIER_ROWS:
                return None
        hits = [t for t in stepped if t[0] in targets]
        found.extend(hits)
        if multi:
            frontier = stepped
        else:
            if stop_at_first_hit and (hits or len(stepped) == len(hits)):
                break
            frontier = [t for t in stepped if t[0] not in targets]
    if multi:
        return [(node, list(path), len(path) - 1) for node, path in found]
    return [(list(path), len(path) - 1) for _, path in found]


def _walk_paths(raw: DataFrame, start_id, tgt: DataFrame, id_t: str, max_depth: int,
                multi: bool, stop_at_first_hit: bool, op: str) -> DataFrame:
    """Distributed level loop of all_paths and all_paths_multi over raw
    (src, dst) pairs. Hits come from a left join against ``tgt``, a
    distinct one-column (node) frame. With ``multi`` paths keep expanding
    THROUGH targets and rows are (target, path, depth); without it a path
    ends at its target and rows are (path, depth). The per-pivot cap's one
    shallow aggregate materializes the lazily cut frontier and gives the
    emptiness break: ONE job per level."""
    from .components import _cap_frontier_pivot, lineage_cut

    adj = raw.distinct()
    flag = tgt.withColumn("_hit", F.lit(True))
    spark = raw.sparkSession
    frontier = local_df(spark, [(start_id, [start_id])], f"node {id_t}, path array<{id_t}>")
    schema = f"path array<{id_t}>, depth int"
    out = ["path", (F.size("path") - 1).alias("depth")]
    if multi:
        schema, out = f"target {id_t}, {schema}", [F.col("node").alias("target"), *out]
    found = None
    for _ in range(max_depth):
        capped, n_live = _cap_frontier_pivot(
            frontier, pivot_col="node", order_col="path", op=op)
        if n_live == 0:
            break
        stepped = (
            capped.join(adj, capped["node"] == adj["src"])
            .where(~F.array_contains("path", F.col("dst")))
            .select(F.col("dst").alias("node"), F.concat("path", F.array("dst")).alias("path"))
            .join(flag, "node", "left")
        )
        stepped = lineage_cut(stepped, eager=False)
        hits = stepped.where(F.col("_hit").isNotNull()).select(*out)
        found = hits if found is None else found.unionByName(hits)
        if multi:
            frontier = stepped
            continue
        if stop_at_first_hit:
            # One shallow aggregate materializes the cut frontier and
            # answers both "did we hit?" and "is anything still live?".
            st = stepped.agg(
                F.count("_hit").alias("nh"), F.count(F.lit(1)).alias("nt")).first()
            if st["nh"] > 0 or st["nt"] == st["nh"]:
                return found
        frontier = stepped.where(F.col("_hit").isNull())
    return local_df(spark, [], schema) if found is None else found


def all_paths(
    edges: DataFrame,
    start_id: str,
    end_id: str,
    max_depth: int = 3,
    *,
    stop_at_first_hit: bool = False,
) -> DataFrame:
    """A10 (graph_path_finder.py:105-155): every simple directed path
    start->end up to max_depth, as (path array, depth). Bounded self-join
    expansion with an array-membership cycle guard (``_walk_paths``).

    Scale guards (VERDICT r3 #2, same shape as bounded_cycles): per-level
    frontiers are lineage-cut, and the extension pivot is capped at
    ``components.PATHS_PER_PIVOT`` paths per node — a hub within max_depth
    hops of the start otherwise contributes P×D rows per level. Within the
    ``adaptive.cutover`` budget the level loop runs on the driver instead
    (``_driver_all_paths``), with no target frame built.

    ``stop_at_first_hit``: return after the first depth where ``end_id``
    is reached (the reference BFS stops there — utils.py:150-193); the
    result then holds only minimal-depth paths. Costs one extra shallow
    aggregate per level (over the already-materialized checkpoint) and
    saves every level past the hit — shortest_path uses this."""
    raw = edges.select(F.col("head_id").alias("src"), F.col("tail_id").alias("dst"))
    id_t = edges.schema["head_id"].dataType.simpleString()
    got = adaptive.cutover(
        raw, adaptive.GRAPH_ROWS,
        lambda rows: _driver_all_paths(
            rows, start_id, {end_id}, max_depth, stop_at_first_hit, False, "all_paths"),
        f"path array<{id_t}>, depth int",
    )
    if got is not None:
        return got
    tgt = local_df(edges.sparkSession, [(end_id,)], f"node {id_t}")
    return _walk_paths(raw, start_id, tgt, id_t, max_depth,
                       False, stop_at_first_hit, "all_paths")


def all_paths_multi(
    edges: DataFrame,
    start_id: str,
    targets: DataFrame,
    max_depth: int = 3,
) -> DataFrame:
    """A10 set-target variant: every simple path start -> ANY node of
    ``targets`` (a one-column DataFrame of ids) up to max_depth, as
    (target, path, depth). Paths keep expanding THROUGH target nodes, so
    the output equals the union of per-target all_paths runs. Same level
    loop (``_walk_paths``) and driver cutover as all_paths; the target
    set must fit the budget too."""
    raw = edges.select(F.col("head_id").alias("src"), F.col("tail_id").alias("dst"))
    tgt = targets.select(F.col(targets.columns[0]).alias("node"))
    id_t = edges.schema["head_id"].dataType.simpleString()
    got = adaptive.cutover(
        (raw, tgt), adaptive.GRAPH_ROWS,
        lambda rows, t_rows: _driver_all_paths(
            rows, start_id, {t for (t,) in t_rows}, max_depth, False, True,
            "all_paths_multi"),
        f"target {id_t}, path array<{id_t}>, depth int",
    )
    if got is not None:
        return got
    return _walk_paths(raw, start_id, tgt.distinct(), id_t, max_depth,
                       True, False, "all_paths_multi")


def paths_with_relation_type(
    edges: DataFrame,
    start_id: str,
    end_id: str,
    pred: str,
    max_depth: int = 3,
) -> DataFrame:
    """find_paths_with_relation_type (graph_path_finder.py:157-222): the
    bounded path walk restricted to edges of ONE relation type.
    Compositional: the pred filter lands BEFORE the walk, so Catalyst
    pushes it into the edge scan — with edges partitioned or bucketed by
    pred at scale this is partition pruning, and every per-level frontier
    join touches only the typed adjacency. Same cap and lineage cut as
    all_paths."""
    return all_paths(edges.where(F.col("pred") == pred), start_id, end_id, max_depth)


# -------------------------------------------------- A13/A14/G8 reports etc

def chunk_similarity(chunks_links: DataFrame) -> DataFrame:
    """A14 (text.py:277-297): 0.6*entity-Jaccard + 0.4*relation-Jaccard of
    linked-id sets per chunk pair, for pairs sharing >= 1 entity.

    Plan: inverted-index equi-join, never all-pairs — explode entity_ids,
    self-join on entity_id (pairs only materialize for chunks that actually
    share an entity), then fetch both link arrays to compute the Jaccards.
    Same shape as dedup_docs.ngram_jaccard_pairs; ``ENTITY_CHUNKS``
    mirrors its hot-shingle cap (an entity linked to more chunks than the
    cap is boilerplate — it would produce a quadratic pair explosion on one
    key while contributing ~0 to any Jaccard)."""
    links = chunks_links.select(
        "chunk_id",
        F.array_distinct("entity_ids").alias("entity_ids"),
        F.array_distinct("relation_ids").alias("relation_ids"),
    )
    inv = links.select("chunk_id", F.explode("entity_ids").alias("entity_id"))
    hot = (
        inv.groupBy("entity_id")
        .agg(F.count("*").alias("n_chunks"))
        .where(F.col("n_chunks") > ENTITY_CHUNKS)
        .select("entity_id")
    )
    inv = inv.join(hot, "entity_id", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    cand = (
        a.join(b, "entity_id")
        .where(F.col("a.chunk_id") < F.col("b.chunk_id"))
        .select(
            F.col("a.chunk_id").alias("chunk_a"), F.col("b.chunk_id").alias("chunk_b")
        )
        .distinct()
    )
    la = links.select(
        F.col("chunk_id").alias("chunk_a"),
        F.col("entity_ids").alias("ents_a"),
        F.col("relation_ids").alias("rels_a"),
    )
    lb = links.select(
        F.col("chunk_id").alias("chunk_b"),
        F.col("entity_ids").alias("ents_b"),
        F.col("relation_ids").alias("rels_b"),
    )
    paired = cand.join(la, "chunk_a").join(lb, "chunk_b")
    inter_e = F.size(F.array_intersect("ents_a", "ents_b"))
    union_e = F.size(F.array_union("ents_a", "ents_b"))
    inter_r = F.size(F.array_intersect("rels_a", "rels_b"))
    union_r = F.size(F.array_union("rels_a", "rels_b"))
    ej = F.when(union_e > 0, inter_e / union_e).otherwise(0.0)
    rj = F.when(union_r > 0, inter_r / union_r).otherwise(0.0)
    return paired.select(
        "chunk_a",
        "chunk_b",
        F.round(0.6 * ej + 0.4 * rj, 6).alias("similarity"),
    )


def _top5_line(df: DataFrame, key_col: str) -> DataFrame:
    """One-row frame: 'k1=c1, k2=c2, …' over the 5 most frequent key
    values, ties broken ascending on the key (deterministic — a bare
    desc-count orderBy leaves tie order to the shuffle). Null keys are
    coalesced to '(null)' BEFORE the groupBy: a null key would make the
    concat yield NULL, which array_join silently drops while the group
    still burns one of the 5 slots (ADVICE r4) — the oracle SQL coalesces
    identically."""
    return (
        df.select(F.coalesce(F.col(key_col), F.lit("(null)")).alias(key_col))
        .groupBy(key_col).count()
        .agg(
            F.array_join(
                F.transform(
                    F.slice(
                        F.array_sort(F.collect_list(F.struct(
                            (-F.col("count")).alias("neg"),
                            F.col(key_col).alias("k"),
                            F.col("count").alias("c"),
                        ))),
                        1, 5,
                    ),
                    lambda s: F.concat(s["k"], F.lit("="), s["c"].cast("string")),
                ),
                ", ",
            ).alias("top_line")
        )
    )


def graph_summary_lines(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A13 (utils.py:469-521) as a DataFrame: the summary report's lines as
    (line_no, line) rows. All aggregates stay distributed (one-row frames
    crossJoined — every side broadcasts); the string assembly is column
    expressions, so the report is oracle-certifiable (a13_summary)."""
    stats = (
        nodes.agg(F.count("*").alias("n"))
        .crossJoin(edges.agg(F.count("*").alias("e")))
        .crossJoin(_top5_line(nodes, "entity_type").withColumnRenamed("top_line", "top_e"))
        .crossJoin(_top5_line(edges, "pred").withColumnRenamed("top_line", "top_p"))
    )
    density = F.when(
        F.col("n") > 1, F.col("e") / (F.col("n") * (F.col("n") - 1))
    ).otherwise(F.lit(0.0))
    lines = F.array(
        F.lit("Knowledge Graph Summary"),
        F.concat(F.lit("  entities: "), F.col("n").cast("string")),
        F.concat(F.lit("  relations: "), F.col("e").cast("string")),
        F.concat(F.lit("  density: "), F.format_string("%.6f", density)),
        F.concat(F.lit("  top entity types: "), F.col("top_e")),
        F.concat(F.lit("  top relation types: "), F.col("top_p")),
    )
    return stats.select(F.posexplode(lines).alias("line_no", "line"))


def graph_summary(nodes: DataFrame, edges: DataFrame) -> str:
    """A13: formatted text report — collects graph_summary_lines (6 rows)."""
    rows = graph_summary_lines(nodes, edges).orderBy("line_no").collect()
    return "\n".join(r.line for r in rows)


REC_SPARSE = "Graph is sparse: consider extracting more relations or lowering confidence thresholds"
REC_DENSE = "Graph is dense: consider raising relation confidence thresholds or pruning related_to edges"
REC_DANGLING = "Dangling relations found: run referential integrity enforcement"
REC_DUP = "Duplicate (name, type) entities found: run entity linking / auto-merge"
REC_SELF_LOOP = "Self-loop relations found: review extraction validation rules"
REC_HEALTHY = "Graph structure looks healthy"


def recommendations_df(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """G8 (graph_validator.py:385-423) as a DataFrame: rule-based
    recommendation rows (rec_idx, recommendation) from issue counts + the
    entity/relation ratio bands (0.1 / 10). One distributed pass per issue
    family instead of the reference's sequential exists-probes — the five
    one-row aggregates broadcast into a single-row crossJoin."""
    from .integrity import dangling_edges, duplicate_name_type, self_loops

    stats = (
        nodes.agg(F.count("*").alias("n"))
        .crossJoin(edges.agg(F.count("*").alias("e")))
        .crossJoin(dangling_edges(nodes, edges).agg(F.count("*").alias("n_dangling")))
        .crossJoin(duplicate_name_type(nodes).agg(F.count("*").alias("n_dup")))
        .crossJoin(self_loops(edges).agg(F.count("*").alias("n_self")))
    )
    ratio = F.col("e") / F.greatest(F.col("n"), F.lit(1))
    recs = F.filter(
        F.array(
            F.when(ratio < 0.1, F.lit(REC_SPARSE)),
            F.when(ratio > 10, F.lit(REC_DENSE)),
            F.when(F.col("n_dangling") > 0, F.lit(REC_DANGLING)),
            F.when(F.col("n_dup") > 0, F.lit(REC_DUP)),
            F.when(F.col("n_self") > 0, F.lit(REC_SELF_LOOP)),
        ),
        lambda x: x.isNotNull(),
    )
    recs = F.when(F.size(recs) == 0, F.array(F.lit(REC_HEALTHY))).otherwise(recs)
    return stats.select(F.posexplode(recs).alias("rec_idx", "recommendation"))


def recommendations(nodes: DataFrame, edges: DataFrame) -> list[str]:
    """G8: rule-based strings — collects recommendations_df in rule order."""
    return [
        r.recommendation
        for r in recommendations_df(nodes, edges).orderBy("rec_idx").collect()
    ]


def shortest_path(
    edges: DataFrame,
    start_id: str,
    end_id: str,
    max_depth: int = 5,
) -> DataFrame:
    """find_shortest_path (utils.py:150-193): the single BFS-shortest path
    start->end (ties broken lexicographically on the path), as one row
    (path, depth). Composition of the bounded all-paths expansion with
    ``stop_at_first_hit`` — the walk ends at the first depth where the
    target appears (the reference BFS stops there too), so deep graphs
    don't pay max_depth levels for a depth-1 answer."""
    found = all_paths(edges, start_id, end_id, max_depth, stop_at_first_hit=True)
    return (
        found.orderBy(F.asc("depth"), F.asc(F.concat_ws("->", "path")))
        .limit(1)
    )
