"""Iterative connected components + BFS shortest paths (SURVEY.md D5/A4/A9).

The reference does DFS/union-find over in-memory dicts
(/root/reference/agraph/services/graph_analyzer.py:173-204,
agraph/builders/llm_builders.py:513-551). Here: driver-controlled loops of
joins that cut lineage every round with ``lineage_cut``. The cut is a
``localCheckpoint`` unless the context has a checkpoint directory; set
``spark.checkpoint.dir`` (``spark-submit --conf spark.checkpoint.dir=...``
or ``get_spark(extra_conf=...)``) to make every loop write reliable
checkpoints that survive executor loss. Loop shuffles take the session's
partition count, which AQE coalesces to the loop's data.

``connected_components`` uses hash-min label propagation accelerated with
pointer jumping (labels chase their own component's label each round), so
convergence is O(log(diameter)) rounds rather than O(diameter). For the
canonicalization workload (co-reference edge lists) components are
small-diameter chains/cliques, so 3-5 rounds typically suffice at any scale;
each round is two shuffles on the node id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df
from . import adaptive

# Loop bounds, read when each plan is built
PATHS_PER_PIVOT = 100_000  # paths kept per pivot node before each extension
CC_ROUNDS = 25  # label-propagation rounds of the distributed CC loop


def lineage_cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage for one round of a driver-controlled loop.

    With a checkpoint directory on the context (``spark.checkpoint.dir``
    at session start, or ``setCheckpointDir``) this is a reliable
    ``checkpoint``: the blocks survive executor loss, for long jobs on a
    real cluster. Otherwise it is ``localCheckpoint``, in executor
    memory/disk: fastest, but an executor loss aborts a half-converged
    loop because the truncated lineage cannot recompute."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "head_id",
    dst: str = "tail_id",
) -> DataFrame:
    """Undirected connected components: (entity_id, component) where
    component = min entity_id in the component.

    Matches union-find semantics of the reference merge
    (llm_builders.py:519-531) and DFS components
    (graph_analyzer.py:173-204).

    Adaptive execution (``adaptive.cutover``): the probe is the RAW
    symmetrized pairs — a narrow, shuffle-free pass over the edge scan —
    so the common small-graph case never pays the distinct exchange or
    the lineage-cut checkpoint at all (r6: those existed only to serve
    the loop). Within the budget the labels come from a driver-side
    union-find over the collected pairs (duplicate-tolerant, so no
    distinct is needed), with un-paired node ids labelled as singletons
    WITHOUT collecting the node set (a left join). Larger graphs — the
    100 TB path — build the deduplicated, lineage-cut adjacency and run
    the unchanged hash-min + pointer-jumping loop."""
    raw = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
    )

    def node_ids(pairs: DataFrame) -> DataFrame:
        ids = pairs.select(F.col("a").alias("entity_id")).distinct()
        if nodes is not None:
            ids = ids.unionByName(nodes.select("entity_id")).distinct()
        return ids

    ids = node_ids(raw)
    id_t = ids.schema[0].dataType.simpleString()  # preserve non-string ids
    mapping = adaptive.cutover(
        raw, adaptive.GRAPH_ROWS,
        lambda rows: list(driver_union_find(rows).items()),
        f"entity_id {id_t}, component {id_t}",
    )
    if mapping is not None:
        return ids.join(mapping, "entity_id", "left").select(
            "entity_id", F.coalesce("component", "entity_id").alias("component"))
    # lineage-cut, not persisted: every round joins against sym, and a
    # persisted sym leaves its full logical subtree in every round's
    # analyzed plan (cache substitution happens at physical planning) —
    # measured 5.5 -> 3.6 s warm at sf0.1 switching to an RDD-leaf cut,
    # same lesson as bounded_cycles (PLANS.md round 3)
    sym = lineage_cut(raw.distinct(), eager=False)
    sym.count()  # materializes the lazy cut
    return _cc_loop(sym, node_ids(sym))


def driver_union_find(pairs) -> dict:
    """Union-find with union-by-min and path compression over an iterable
    of (a, b) pairs: returns {id: root} for every non-root id, where the
    root of each set is its MINIMUM element — the same labeling the
    distributed hash-min loop converges to. Shared by the adaptive
    small-graph cutovers here and in linking.canonical_mapping (one copy
    of a subtle invariant). Pairs containing None are skipped (None is
    never a node id; the distributed sym filters them)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in list(parent)}


def _cc_loop(sym: DataFrame, ids: DataFrame) -> DataFrame:
    labels = ids.select("entity_id", F.col("entity_id").alias("component"))
    labels = lineage_cut(labels)

    for _ in range(CC_ROUNDS):
        # hash-min: each node adopts min(own label, neighbors' labels)
        nb_min = (
            sym.join(labels.withColumnRenamed("entity_id", "b"), "b")
            .groupBy(F.col("a").alias("entity_id"))
            .agg(F.min("component").alias("nb_component"))
        )
        stepped = labels.join(nb_min, "entity_id", "left").select(
            "entity_id",
            F.least(
                F.col("component"), F.coalesce("nb_component", "component")
            ).alias("component"),
        )
        # pointer jumping on the FRESH labels (component -> its new
        # component): halves chain lengths using this round's progress
        jump = stepped.select(
            F.col("entity_id").alias("component"), F.col("component").alias("jumped")
        )
        new_labels = (
            stepped.join(jump, "component", "left")
            .select(
                "entity_id",
                F.least(F.col("component"), F.coalesce("jumped", "component")).alias(
                    "component"
                ),
            )
        )
        # lazy cut: the convergence check below is the materializing
        # action, so each round runs ONE job instead of two. The check is a
        # FULL count (no limit-1 short-circuit): every partition of
        # new_labels must be computed in this job or the checkpoint stays
        # partial and lineage keeps growing across rounds.
        new_labels = lineage_cut(new_labels, eager=False)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "entity_id")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def component_sizes(labels: DataFrame) -> DataFrame:
    return labels.groupBy("component").agg(F.count("*").alias("size"))


def _driver_bfs(pairs: list, start_id, max_depth: int) -> list:
    """Driver mirror of the bfs_distances frontier loop over the collected
    raw (src, dst) pairs: duplicate pairs are harmless to the visited-set
    walk. Returns (entity_id, dist) rows."""
    nbrs: dict = {}
    for s, d in pairs:
        # match the loop's null semantics exactly: a null dst can be
        # REACHED (it lands in visited), but a null src never joins,
        # so nothing is reachable THROUGH it — skip it as a hub key
        if s is None:
            continue
        nbrs.setdefault(s, []).append(d)
    dist = {start_id: 0}
    frontier_ids = [start_id]
    for depth in range(1, max_depth + 1):
        nxt = []
        for u in frontier_ids:
            for v in nbrs.get(u, ()):
                if v not in dist:
                    dist[v] = depth
                    nxt.append(v)
        if not nxt:
            break
        frontier_ids = nxt
    return list(dist.items())


def bfs_distances(edges: DataFrame, start_id: str, max_depth: int = 5) -> DataFrame:
    """A9: unweighted BFS distance from start to all nodes within max_depth
    over the edges in both directions (graph_path_finder.py:44-103).
    Frontier-expansion joins with a visited anti-join; at most max_depth
    iterations.

    Same adaptive cutover as connected_components: the probe is the RAW
    (pre-distinct) adjacency, so within the budget the walk runs as a
    driver-side BFS (``_driver_bfs``; no distinct exchange, no checkpoint)
    instead of one join-job per depth; larger graphs build the
    deduplicated lineage-cut adjacency and run the unchanged frontier
    loop."""
    spark = edges.sparkSession
    raw = edges.select(F.col("head_id").alias("src"), F.col("tail_id").alias("dst"))
    raw = raw.unionByName(
        edges.select(F.col("tail_id").alias("src"), F.col("head_id").alias("dst"))
    )
    # id type derived from the edge schema (ADVICE r5: the hardcoded string
    # schema broke non-string ids on this path only)
    seed_schema = f"entity_id {edges.schema['head_id'].dataType.simpleString()}, dist int"
    got = adaptive.cutover(
        raw, adaptive.GRAPH_ROWS,
        lambda rows: _driver_bfs(rows, start_id, max_depth), seed_schema)
    if got is not None:
        return got
    # lineage-cut, not persisted: joined against once per depth, and an
    # RDD-leaf adjacency keeps every depth's analyzed plan shallow (see
    # connected_components / bounded_cycles)
    adj = lineage_cut(raw.distinct(), eager=False)
    visited = local_df(spark, [(start_id, 0)], seed_schema)
    frontier = visited
    adj.count()  # materializes the lazy cut
    for d in range(1, max_depth + 1):
        nxt = (
            adj.join(
                frontier.select(F.col("entity_id").alias("src")), "src"
            )
            .select(F.col("dst").alias("entity_id"))
            .distinct()
            # null-safe anti-join (ADVICE r6): a plain left_anti never
            # matches a null key, so a null dst reachable at several
            # depths re-entered the frontier and emitted one (null, d)
            # row per depth, while the driver mirror records null once.
            # eqNullSafe dedupes null exactly like any other id.
            .alias("n")
            .join(visited.select("entity_id").alias("v"),
                  F.col("n.entity_id").eqNullSafe(F.col("v.entity_id")),
                  "left_anti")
            .withColumn("dist", F.lit(d))
        )
        # lazy cut + full count: the emptiness check IS the job that
        # materializes the checkpoint — one job per depth, not two
        # (same shape as _cc_loop's convergence check)
        nxt = lineage_cut(nxt, eager=False)
        if nxt.count() == 0:
            break
        visited = lineage_cut(visited.unionByName(nxt), eager=False)
        frontier = nxt
    return visited


def _log_pivot_drops(op: str, n_drop: int) -> None:
    import logging

    logging.getLogger(__name__).warning(
        "%s: dropping %d paths above cap %d per pivot "
        "(paths through capped hubs may be missed)", op, n_drop, PATHS_PER_PIVOT,
    )


def _cap_frontier_pivot(
    frontier: DataFrame,
    pivot_col: str = "last",
    order_col: str = "nodes",
    op: str = "bounded_cycles",
) -> tuple[DataFrame, int]:
    """Bound the paths-per-pivot fan-in before a frontier⋈edges extension.

    The extension joins frontier.<pivot_col> = edges.src, so a hub node
    with P incoming paths and out-degree D contributes P×D rows — the
    quadratic wedge blowup round 2's verdict flagged. Keeping at most
    ``PATHS_PER_PIVOT`` paths per pivot (deterministically: smallest
    ``order_col`` arrays first, so repeated runs and the SQL oracle agree
    whenever nothing is dropped) bounds every extension to cap×D, and the
    exact drop count is logged. Same window-count pattern as
    dedup_docs._cap_buckets: one shuffle on the SAME key the join uses, so
    the exchange is reused.

    Returns ``(capped_frontier, n_live)`` — n_live is the capped
    frontier's row count, free from the same aggregate, so iterative
    callers get their emptiness break without a second job."""
    cap = PATHS_PER_PIVOT
    # frontier is a lazily lineage-cut checkpoint; this partial-aggregated
    # count pass is the job that materializes it (one job per level). The
    # common (cold) case then skips the row_number window shuffle entirely,
    # and the exact drop count falls out of the same aggregate. (An
    # Observation-based fully-lazy variant was tried and rejected: metrics
    # do not propagate through the localCheckpoint materialization the
    # loop needs — measured n=0 through a lazy checkpoint.)
    stats = (
        frontier.groupBy(pivot_col)
        .count()
        .agg(
            F.max("count").alias("mx"),
            F.sum("count").alias("total"),
            F.sum(
                F.when(F.col("count") > cap, F.col("count") - cap).otherwise(0)
            ).alias("n_drop"),
        )
        .first()
    )
    n_live = int(stats["total"]) if stats is not None and stats["total"] is not None else 0
    if stats is None or stats.mx is None or stats.mx <= cap:
        return frontier, n_live
    _log_pivot_drops(op, stats.n_drop)
    from pyspark.sql import Window

    w = Window.partitionBy(pivot_col).orderBy(order_col)
    return (
        frontier.withColumn("_pp", F.row_number().over(w))
        .where(F.col("_pp") <= cap)
        .drop("_pp")
    ), n_live - int(stats.n_drop)


def _cap_frontier_driver(frontier: list, pivot_ix: int, order_ix: int, op: str) -> list:
    """Driver-side twin of _cap_frontier_pivot: keep at most
    ``PATHS_PER_PIVOT`` tuples per pivot value, smallest order key first,
    logging the exact drop count with the same message. ONE implementation
    shared by every driver mirror so cap semantics cannot diverge between
    them."""
    by_pivot: dict = {}
    for t in frontier:
        by_pivot.setdefault(t[pivot_ix], []).append(t)
    out: list = []
    n_drop = 0
    for lst in by_pivot.values():
        if len(lst) > PATHS_PER_PIVOT:
            n_drop += len(lst) - PATHS_PER_PIVOT
            lst = sorted(lst, key=lambda t: t[order_ix])[:PATHS_PER_PIVOT]
        out.extend(lst)
    if n_drop:
        _log_pivot_drops(op, n_drop)
    return out


def _driver_bounded_cycles(pairs: list, max_len: int) -> list | None:
    """Driver-side mirror of the bounded_cycles level loop over collected
    trimmed edges: same canonical-rotation filter, same per-pivot cap with
    the same (pivot='last', order='nodes') deterministic ordering, so the
    two paths emit IDENTICAL (start, len) sets — including when the cap
    drops paths. Returns the sorted (start, len) rows, or None if the
    frontier exceeds ``adaptive.FRONTIER_ROWS`` (dense graph): the caller
    then runs the distributed loop instead."""
    adj: dict = {}
    eset = set()
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        eset.add((a, b))
    out: set = set()
    frontier = [(a, b, (a, b)) for (a, b) in eset if b > a]
    for length in range(2, max_len + 1):
        for s, last, _ in frontier:
            if (last, s) in eset:
                out.add((s, length))
        if length == max_len:
            break
        frontier = _cap_frontier_driver(frontier, 1, 2, "bounded_cycles")
        nxt = []
        for s, last, nodes in frontier:
            for b in adj.get(last, ()):
                if b > s and b not in nodes:
                    nxt.append((s, b, nodes + (b,)))
            if len(nxt) > adaptive.FRONTIER_ROWS:
                return None
        frontier = nxt
    return sorted(out)


def bounded_cycles(
    edges: DataFrame,
    max_len: int = 5,
) -> DataFrame:
    """A11: directed simple cycles of length 2..max_len as
    (cycle_start, cycle_len), canonicalized so cycle_start = min node id in
    the cycle (one row per (start, length) pair). Reference DFS finds cycles
    <= length 5 (graph_path_finder.py:224-280, duplicated in
    graph_validator.py:286-327).

    Frontier expansion: paths start→…→last where every non-start node >
    start (the canonical-rotation filter — each cycle is enumerated exactly
    once, anchored at its minimum node) and nodes are distinct; each level
    closes against a last→start edge and extends one hop. Two scale guards:

    - semantics-preserving trim: a node on a directed cycle must have BOTH
      in- and out-edges, so edges touching source-only/sink-only nodes are
      semi-joined away up front (most KG leaf entities vanish here);
    - hot-pivot cap (``PATHS_PER_PIVOT``): bounds the per-node path
      fan-in before each extension join (see _cap_frontier_pivot). Capping
      drops cycles only through hubs hotter than the cap, and logs the
      exact drop count (one shallow aggregate over the cut frontier).

    Per-level frontiers are lineage-cut (``lineage_cut``), not persisted:
    with persist the logical plan still carries the full per-level subtree
    and measured 3x slower than an RDD-leaf cut (cache-substituted plan
    re-analysis + AQE over a tree that doubles per level); without either,
    the plan recomputes exponentially (measured 135 s vs 4 s at sf0.01).
    """
    e = edges.select(F.col("head_id").alias("a"), F.col("tail_id").alias("b")).distinct()
    # trim to nodes with both in- and out-edges (cycle membership requires both)
    both = (
        e.select(F.col("a").alias("n"))
        .join(e.select(F.col("b").alias("n")), "n", "left_semi")
        .distinct()
    )
    e = lineage_cut(
        e.join(both.select(F.col("n").alias("a")), "a", "left_semi")
        .join(both.select(F.col("n").alias("b")), "b", "left_semi")
        .select("a", "b"),
        eager=False,
    )
    # adaptive cutover (same shape as connected_components/bfs_distances):
    # within the budget the whole level loop runs on the driver with
    # IDENTICAL close/cap/extend semantics. Cycle enumeration at bench
    # scale was paying one join-job + one cap aggregate per level on a
    # few-thousand-edge graph.
    got = adaptive.cutover(
        e, adaptive.GRAPH_ROWS,
        lambda rows: _driver_bounded_cycles(rows, max_len),
        f"cycle_start {e.schema[0].dataType.simpleString()}, cycle_len int",
    )
    if got is not None:
        return got
    frontier = e.where(F.col("b") > F.col("a")).select(
        F.col("a").alias("start"), F.col("b").alias("last"),
        F.array("a", "b").alias("nodes"),
    )
    out = None
    for length in range(2, max_len + 1):
        # lazy cut + the cap check's aggregate materializes the checkpoint
        # in the SAME job — one job per level, not two (same shape as
        # _cc_loop's convergence check); the last level has no cap check
        # and materializes in the caller's final action
        frontier = lineage_cut(frontier, eager=False)
        closed = (
            frontier.alias("p")
            .join(
                e.alias("c"),
                (F.col("p.last") == F.col("c.a")) & (F.col("c.b") == F.col("p.start")),
            )
            .select(F.col("p.start").alias("cycle_start"), F.lit(length).alias("cycle_len"))
        )
        out = closed if out is None else out.unionByName(closed)
        if length == max_len:
            break
        capped, _ = _cap_frontier_pivot(frontier)
        frontier = (
            capped.alias("p")
            .join(e.alias("x"), F.col("p.last") == F.col("x.a"))
            .where(
                (F.col("x.b") > F.col("p.start"))
                & ~F.array_contains(F.col("p.nodes"), F.col("x.b"))
            )
            .select(
                F.col("p.start").alias("start"),
                F.col("x.b").alias("last"),
                F.concat(F.col("p.nodes"), F.array(F.col("x.b"))).alias("nodes"),
            )
        )
    # one distinct over the union instead of one per length: (start, len)
    # pairs never collide across lengths, and a single shuffle replaces
    # max_len-1 of them
    return out.distinct()
