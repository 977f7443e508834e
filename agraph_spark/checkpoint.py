"""Checkpointed, resumable batched KG construction with per-partition
lineage and metrics (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

The transcript corpus is split into B deterministic batches by
pmod(xxhash64(conv_id), B) — conversation-aligned, so every batch is an
independent unit of work. Each completed batch writes its triples under
``triples/batch=<b>/`` (a parquet partition directory) and appends a
manifest record (batch id, row count, duration). Resume = re-run skipping
batches already in the manifest; content-hash ids (materialize.py) make the
final nodes/edges identical no matter how many times a batch is retried.

The manifest here is a JSON-lines file (single-writer driver). On a real
cluster deployment the same records go to an Iceberg manifest table and the
per-batch write becomes an Iceberg REPLACE PARTITION / MERGE INTO commit —
the parquet layout is identical, so the local tests exercise the same
resume logic.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .caching import track
from .pipeline import build_kg


@dataclass
class BatchResult:
    batch_id: int
    n_triples: int
    n_entities: int
    seconds: float
    skipped: bool


class CheckpointManifest:
    def __init__(self, out_dir: str):
        self.path = os.path.join(out_dir, "_manifest.jsonl")

    def completed(self, stage: str) -> set[int]:
        done = set()
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec["stage"] == stage:
                        done.add(rec["batch_id"])
        return done

    def record(self, stage: str, batch_id: int, **metrics) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "a") as f:
            f.write(json.dumps({"stage": stage, "batch_id": batch_id,
                                "ts": time.time(), **metrics}) + "\n")


def batch_col(n_batches: int) -> F.Column:
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_batches)).cast("int")


def run_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_batches: int = 8,
    fail_after: int | None = None,
) -> list[BatchResult]:
    """Extract triples batch-by-batch with resume. ``fail_after=k`` raises
    after k completed batches (kill-and-resume tests)."""
    manifest = CheckpointManifest(out_dir)
    done = manifest.completed("triples")
    transcripts = track(transcripts.withColumn("batch_id", batch_col(n_batches)))
    results: list[BatchResult] = []
    completed_this_run = 0
    for b in range(n_batches):
        if b in done:
            results.append(BatchResult(b, -1, -1, 0.0, skipped=True))
            continue
        t0 = time.time()
        sub = transcripts.where(F.col("batch_id") == b).drop("batch_id")
        build = build_kg(sub)
        triples = build.triples.withColumn("lineage", F.lit(f"batch={b}"))
        triples.write.mode("overwrite").parquet(os.path.join(out_dir, "triples", f"batch={b}"))
        build.entities.withColumn("lineage", F.lit(f"batch={b}")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "entities", f"batch={b}"))
        n_trip = spark.read.parquet(os.path.join(out_dir, "triples", f"batch={b}")).count()
        n_ents = spark.read.parquet(os.path.join(out_dir, "entities", f"batch={b}")).count()
        build.documents.unpersist()
        dt = time.time() - t0
        manifest.record("triples", b, n_triples=n_trip, n_entities=n_ents,
                        seconds=round(dt, 3))
        results.append(BatchResult(b, n_trip, n_ents, dt, skipped=False))
        completed_this_run += 1
        if fail_after is not None and completed_this_run >= fail_after:
            raise RuntimeError(f"simulated failure after {fail_after} batches")
    return results


def read_all_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Union of all completed batches, one row per (conversation, triple).
    No dedup here: the same triple text can occur in conversations of
    different batches, and ``materialize.build_edges``' groupBy merges
    those rows into one edge."""
    return spark.read.parquet(os.path.join(out_dir, "triples"))


def finalize_graph(spark: SparkSession, out_dir: str, alias_dict=None, link=True):
    """Batches -> global nodes/edges written next to the triples."""
    from .io import write_graph
    from .materialize import materialize_graph

    triples = read_all_triples(spark, out_dir)
    entities = spark.read.parquet(os.path.join(out_dir, "entities"))
    nodes, edges = materialize_graph(entities, triples, alias_dict=alias_dict, link=link)
    write_graph(nodes, edges, out_dir)
    return nodes, edges
