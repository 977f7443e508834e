"""Adaptive cutover between a driver mirror and a distributed loop.

Spark pays at least one scheduled job per loop round, so on small inputs
the graph operators collect their input and run a plain-Python mirror of
the loop on the driver, as the reference does in one process.
``cutover`` owns that decision for every operator: the size probe, the
budgets and the collect. Each operator keeps its mirror and its loop;
a mirror must give the loop's exact rows, null semantics and id types.

Budgets, in rows, scale with how often the mirror visits each row:
``GRAPH_ROWS`` for the one-pass graph mirrors (CC, BFS/k-hop, cycles,
paths; ~25 MB of raw pairs), ``LINK_ROWS`` for canonical_mapping pairs
and LSH feature rows, and ``PAGERANK_ROWS`` for the rank mirror, which
visits each row once per iteration (10 by default: 170k rows x 10
measured a wash against the loop, 17k rows won 2.4x). ``LSH_PAIRS``
bounds the in-bucket pairs the LSH mirror enumerates, which grow with
the square of bucket size (the same 1M visits as a full rank mirror);
``FRONTIER_ROWS`` bounds one level of the cycle and path mirrors.

The probe is one bounded collect, ``df.limit(budget + 1).collect()``:
at most budget + 1 rows reach the driver, and the rows that decide feed
the mirror. The other rule, count then collect, always runs two jobs and
computes an uncached frame twice (canonical_mapping's input reruns the
Python verifier). Alternating the two rules call by call inside the
benchmark's transcripts_batch and graph_serving workloads (local[4]),
the median probe took, count -> limit: all_paths 0.137 -> 0.091 s,
BFS/k-hop 0.277 -> 0.243 s, canonical_mapping 0.355 -> 0.264 s, LSH
0.547 -> 0.497 s. Those frames have 1-4 partitions. CollectLimit scans
one partition, then 4x as many and so on, so a frame with many
partitions takes more rounds: at 32 partitions the LSH probe measured
1-2 s slower than a count.

A mirror may return None to decline (a frontier or pair bound blown);
``cutover`` then returns None and the operator runs its loop. Results
are Arrow-backed local frames (``session.local_df``): plain-list and
empty-pandas frames run pickled Python conversion tasks exposed to
multi-second worker stalls (OPTIMIZATION_r06.md section 2).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..session import local_df

GRAPH_ROWS = 250_000
LINK_ROWS = 100_000
PAGERANK_ROWS = 100_000
LSH_PAIRS = 1_000_000
FRONTIER_ROWS = 2_000_000


def cutover(
    probe: DataFrame | tuple[DataFrame, ...],
    budget: int,
    mirror: Callable[..., list | None],
    schema,
) -> DataFrame | None:
    """Run ``mirror`` on the driver when every ``probe`` frame has at most
    ``budget`` rows; ``mirror`` gets one list of collected rows per frame
    and returns the result rows, or None to decline. Returns the rows as a
    local frame with ``schema`` (a StructType or DDL string), or None when
    the caller must run its distributed loop."""
    frames = probe if isinstance(probe, tuple) else (probe,)
    collected = []
    for df in frames:
        rows = df.limit(budget + 1).collect()
        if len(rows) > budget:
            return None
        collected.append(rows)
    out = mirror(*collected)
    if out is None:
        return None
    return local_df(frames[0].sparkSession, out, schema)
