"""Graph analytics over (nodes, edges) DataFrames (SURVEY.md §2.7).

Spark restatement of the reference's dict-scan analytics
(/root/reference/agraph/services/graph_analyzer.py): every op is a
groupBy/join/agg plan — degree counting is the canonical hot-key-skew
aggregation (partial map-side agg handles it; AQE splits stragglers).

Conventions: nodes(entity_id, name, entity_type, ...),
edges(head_id, tail_id, pred, confidence). Directed. A self-loop adds 2 to
total degree, matching graph_analyzer.py:138-171.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import adaptive


def degree_per_node(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A3: per-node (in_degree, out_degree, degree); nodes without edges
    appear with zeros (graph_analyzer.py:138-171)."""
    out_d = edges.groupBy(F.col("head_id").alias("entity_id")).agg(
        F.count("*").alias("out_degree")
    )
    in_d = edges.groupBy(F.col("tail_id").alias("entity_id")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        nodes.select("entity_id")
        .join(out_d, "entity_id", "left")
        .join(in_d, "entity_id", "left")
        .na.fill(0, ["out_degree", "in_degree"])
        .withColumn("degree", F.col("in_degree") + F.col("out_degree"))
    )


def degree_summary(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A3 aggregate: avg/max/min total degree + avg in/out."""
    d = degree_per_node(nodes, edges)
    return d.agg(
        F.round(F.avg("degree"), 6).alias("average_degree"),
        F.max("degree").alias("max_degree"),
        F.min("degree").alias("min_degree"),
        F.round(F.avg("in_degree"), 6).alias("average_in_degree"),
        F.round(F.avg("out_degree"), 6).alias("average_out_degree"),
    )


def type_distribution(nodes: DataFrame) -> DataFrame:
    """A2: counts per entity_type (graph_analyzer.py:87-121)."""
    return nodes.groupBy("entity_type").agg(F.count("*").alias("cnt"))


def relation_type_distribution(edges: DataFrame) -> DataFrame:
    return edges.groupBy("pred").agg(F.count("*").alias("cnt"))


def isolated_nodes(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A5: entities with zero incident relations (graph_analyzer.py:206-223):
    left-anti join against distinct endpoint ids."""
    touched = (
        edges.select(F.col("head_id").alias("entity_id"))
        .unionByName(edges.select(F.col("tail_id").alias("entity_id")))
        .distinct()
    )
    return nodes.join(touched, "entity_id", "left_anti")


def density(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A6: relations / (n*(n-1)), directed; 0 when n <= 1
    (graph_analyzer.py:225-243)."""
    n = nodes.agg(F.count("*").alias("n"))
    e = edges.agg(F.count("*").alias("e"))
    return n.crossJoin(e).select(
        F.when(F.col("n") <= 1, F.lit(0.0))
        .otherwise(F.round(F.col("e") / (F.col("n") * (F.col("n") - 1)), 9))
        .alias("density")
    )


def importance_scores(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A7: degree-centrality degree/(n-1) per entity
    (graph_analyzer.py:245-267)."""
    d = degree_per_node(nodes, edges)
    n = nodes.agg(F.count("*").alias("n"))
    return d.crossJoin(n).select(
        "entity_id",
        F.when(F.col("n") <= 1, F.lit(0.0))
        .otherwise(F.round(F.col("degree") / (F.col("n") - 1), 9))
        .alias("importance"),
    )


def top_central(nodes: DataFrame, edges: DataFrame, k: int = 5) -> DataFrame:
    """A8: top-k nodes by degree (utils.py:236-259); entity_id tiebreak for
    determinism."""
    return (
        degree_per_node(nodes, edges)
        .orderBy(F.desc("degree"), F.asc("entity_id"))
        .limit(k)
    )


def k_hop_neighbors(edges: DataFrame, start_id: str, k: int = 2) -> DataFrame:
    """A12: hop-labelled neighborhood of one node
    (knowledge_retriever.py:611-665). The hop label IS the BFS distance
    (first depth each node is reached), so this delegates to
    ``bfs_distances`` bounded to k — one machinery, one null semantics (a
    null neighbor is reached ONCE, the ADVICE-r5 fix), and the adaptive
    small-graph driver cutover for free. The previous standalone
    expansion loop paid an eager localCheckpoint + adj distinct per hop
    (2.9-3.6 s warm at bench scale vs ~1 s via the mirror, r6c)."""
    from .components import bfs_distances

    bfs = bfs_distances(edges, start_id, max_depth=k)
    return bfs.where(F.col("dist") > 0).select(
        "entity_id", F.col("dist").alias("hop")
    )


def _driver_pagerank_fixed(
    nodes: DataFrame, adj: DataFrame, rows: list, iterations: int,
    d_num: int, seed_v: int, base_v: int,
) -> list:
    """Driver mirror of the fixed-point pagerank loop over the collected
    (head_id, tail_id, outd) adjacency rows, returning (entity_id, rank)
    for every node the adjacency touches. Integer ppb arithmetic is
    order-independent, so the mirror is bit-identical to the distributed
    loop by construction. Mirrors the loop's exact join
    semantics: contributions only from heads that are NODES (the rank
    join), null tails accumulate but never match a node (Spark equi-join
    null semantics); un-touched nodes take the closed-form floor rank in
    the caller's left-join fill, so the full node set never crosses the
    driver."""
    adj_ids = (
        adj.select(F.col("head_id").alias("entity_id"))
        .unionByName(adj.select(F.col("tail_id").alias("entity_id")))
        .where(F.col("entity_id").isNotNull())
        .distinct()
    )
    touched = [
        r.entity_id
        for r in nodes.select("entity_id")
        .join(adj_ids, "entity_id", "left_semi")
        .collect()
    ]
    ranks = {i: seed_v for i in touched}
    for _ in range(iterations):
        recv: dict = {}
        for h, t, outd in rows:
            rk = ranks.get(h)
            if rk is not None and t is not None:
                recv[t] = recv.get(t, 0) + rk // outd
        ranks = {i: base_v + (recv.get(i, 0) * d_num) // 100 for i in touched}
    return list(ranks.items())


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank (unnormalized variant: seed 1.0,
    r' = (1-d) + d * sum_in(r/outdeg); parallel edges each carry mass),
    returned as ``rank`` in integer parts-per-billion.

    Beyond the reference's degree-based importance (A7) — the standard
    importance upgrade for a KG at scale. Same loop machinery as connected
    components: a lineage-cut adjacency and a lineage cut per round
    (``components.lineage_cut``). Graphs within
    ``adaptive.PAGERANK_ROWS`` adjacency rows take the driver mirror
    (``_driver_pagerank_fixed``); the distributed loop runs above the
    budget.

    The whole iteration runs in integer ppb (floor division per edge,
    exact BIGINT sums, damping as *85 div 100): addition is
    order-INDEPENDENT, so ranks are bit-identical across partitionings,
    reruns, engines (the DuckDB oracle) and the driver mirror; float sums
    round-flaked at 1e-9 under partition nondeterminism. Overflow bound: a
    node's recv is < max_in_degree * 1e9, so BIGINT is safe up to ~9e9
    in-edges per node — beyond any real graph's hottest node."""
    from .components import lineage_cut

    deg = edges.groupBy("head_id").agg(F.count("*").alias("outd"))
    # lineage-cut, not persisted: joined against every iteration; an
    # RDD-leaf adjacency keeps each round's analyzed plan shallow
    # (measured on CC/cycles — PLANS.md round 3)
    adj = lineage_cut(edges.select("head_id", "tail_id").join(deg, "head_id"), eager=False)
    d_num = int(round(damping * 100))
    seed_v, base_v = 1_000_000_000, (100 - d_num) * 10_000_000
    id_t = nodes.schema["entity_id"].dataType.simpleString()
    mapping = adaptive.cutover(
        adj, adaptive.PAGERANK_ROWS,
        lambda rows: _driver_pagerank_fixed(
            nodes, adj, rows, iterations, d_num, seed_v, base_v),
        f"entity_id {id_t}, rank bigint",
    )
    if mapping is not None:
        fill = F.lit(seed_v if iterations == 0 else base_v).cast("long")
        return nodes.select("entity_id").join(mapping, "entity_id", "left").select(
            "entity_id", F.coalesce("rank", fill).alias("rank"))
    base = F.lit(base_v).cast("long")
    ranks = nodes.select("entity_id", F.lit(seed_v).cast("long").alias("rank"))
    ranks = lineage_cut(ranks)
    for _ in range(iterations):
        j = adj.join(ranks.withColumnRenamed("entity_id", "head_id"), "head_id")
        recv = j.groupBy(F.col("tail_id").alias("entity_id")).agg(
            F.sum(F.expr("rank div outd")).alias("recv")
        )
        new_rank = base + F.expr(f"(coalesce(recv, 0L) * {d_num}) div 100")
        ranks = lineage_cut(
            nodes.select("entity_id")
            .join(recv, "entity_id", "left")
            .select("entity_id", new_rank.alias("rank"))
        )
    return ranks


def graph_metrics(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """The reference's composite network-metrics report
    (calculate_graph_metrics, utils.py:196-268) as one (metric, value)
    frame — basic stats, degree statistics, top-central nodes,
    connectivity, and type distributions in a single certifiable unit
    (the individual pieces were already covered; this is the composed
    report, like graph_summary_lines is for create_graph_summary).

    Reference semantics preserved exactly where defined:
    - total degree counts DISTINCT relations touching the node — a
      self-loop adds 1 (get_entity_relations direction="both" appends
      once), while A3's in+out degree would add 2;
    - density = 2E / (N(N-1)), rounded to 4 (utils.py:233-234) — note
      the reference's OWN summary report uses E/(N(N-1)); both are kept
      faithfully in their respective reports;
    - components span entities only, via relations whose BOTH endpoints
      exist (a dangling relation yields no neighbor);
    - avg_degree rounded to 2.
    Deviations (documented): top-central ties break on entity_id
    ascending (the reference's dict-insertion order is not reproducible
    in a distributed engine), central rows are keyed
    'central_degree:<entity_id>', and is_connected is 0/1.
    """
    from .components import connected_components
    from .integrity import enforce_referential_integrity

    def rows(df: DataFrame) -> DataFrame:
        return df.select(F.col("metric"), F.col("value").cast("double").alias("value"))

    # degree with self-loops counted once: head-count + tail-count - selfloop-count
    hd = edges.groupBy(F.col("head_id").alias("entity_id")).agg(F.count("*").alias("hc"))
    tl = edges.groupBy(F.col("tail_id").alias("entity_id")).agg(F.count("*").alias("tc"))
    sl = (
        edges.where(F.col("head_id") == F.col("tail_id"))
        .groupBy(F.col("head_id").alias("entity_id")).agg(F.count("*").alias("sc"))
    )
    from agraph_spark import caching

    # deg feeds two consumers (the avg/max/min aggregate and the top-5
    # central sort) in one materializing job — a shallow plan with many
    # consumers is exactly the persist-is-right case (CLAUDE.md)
    deg = caching.track(
        nodes.select("entity_id")
        .join(hd, "entity_id", "left").join(tl, "entity_id", "left")
        .join(sl, "entity_id", "left")
        .select(
            "entity_id",
            (F.coalesce("hc", F.lit(0)) + F.coalesce("tc", F.lit(0))
             - F.coalesce("sc", F.lit(0))).alias("d"),
        )
    )

    basic = (
        nodes.agg(F.count("*").alias("n")).crossJoin(edges.agg(F.count("*").alias("e")))
        .select(
            F.explode(
                F.array(
                    F.struct(F.lit("node_count").alias("metric"), F.col("n").cast("double").alias("value")),
                    F.struct(F.lit("edge_count").alias("metric"), F.col("e").cast("double").alias("value")),
                    F.struct(
                        F.lit("density").alias("metric"),
                        F.when(F.col("n") > 1,
                               F.round(2 * F.col("e") / (F.col("n") * (F.col("n") - 1)), 4))
                        .otherwise(0.0).alias("value"),
                    ),
                )
            ).alias("kv")
        ).select("kv.metric", "kv.value")
    )
    dstats = deg.agg(
        F.round(F.avg("d"), 2).alias("avg_degree"),
        F.max("d").cast("double").alias("max_degree"),
        F.min("d").cast("double").alias("min_degree"),
    ).select(
        F.explode(
            F.array(*[
                F.struct(F.lit(k).alias("metric"), F.col(k).alias("value"))
                for k in ("avg_degree", "max_degree", "min_degree")
            ])
        ).alias("kv")
    ).select("kv.metric", "kv.value")
    central = (
        deg.orderBy(F.desc("d"), F.asc("entity_id")).limit(5)
        .select(F.concat(F.lit("central_degree:"), F.col("entity_id")).alias("metric"),
                F.col("d").cast("double").alias("value"))
    )

    labels = connected_components(
        enforce_referential_integrity(nodes, edges), nodes=nodes)
    conn = (
        labels.groupBy("component").count()
        .agg(F.count("*").alias("nc"), F.max("count").cast("double").alias("largest"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.lit("connected_components").alias("metric"),
                             F.col("nc").cast("double").alias("value")),
                    F.struct(F.lit("largest_component_size").alias("metric"),
                             F.col("largest").alias("value")),
                    F.struct(F.lit("is_connected").alias("metric"),
                             (F.col("nc") <= 1).cast("double").alias("value")),
                )
            ).alias("kv")
        ).select("kv.metric", "kv.value")
    )
    etypes = nodes.groupBy(
        F.coalesce("entity_type", F.lit("(null)")).alias("t")).count().select(
        F.concat(F.lit("entity_type:"), F.col("t")).alias("metric"),
        F.col("count").cast("double").alias("value"))
    rtypes = edges.groupBy(
        F.coalesce("pred", F.lit("(null)")).alias("t")).count().select(
        F.concat(F.lit("relation_type:"), F.col("t")).alias("metric"),
        F.col("count").cast("double").alias("value"))

    return rows(basic).unionByName(rows(dstats)).unionByName(rows(central)) \
        .unionByName(rows(conn)).unionByName(rows(etypes)).unionByName(rows(rtypes))
