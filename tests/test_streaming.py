"""Streaming incremental build == batch build on the same corpus, and
late-arriving appends are picked up by a second drain."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from agraph_spark.pipeline import build_kg
from agraph_spark.streaming.incremental import start_transcript_merge_stream
from agraph_spark.synth import transcripts_df


def triple_set(df):
    return {(r.conv_id, r.subj, r.pred, r.obj) for r in df.collect()}


def test_stream_equals_batch(spark):
    tdf = transcripts_df(spark, n_convs=16, seed=9).persist()
    want = triple_set(build_kg(tdf).triples)

    with tempfile.TemporaryDirectory() as d:
        inp = os.path.join(d, "in")
        out = os.path.join(d, "out")
        # two separate appends (files) -> multiple micro-batches
        tdf.where("conv_id < 'conv000008'").write.mode("append").parquet(inp)
        q = start_transcript_merge_stream(spark, inp, out)
        q.awaitTermination(120)

        tdf.where("conv_id >= 'conv000008'").write.mode("append").parquet(inp)
        q2 = start_transcript_merge_stream(spark, inp, out)
        q2.awaitTermination(120)

        got = triple_set(spark.read.parquet(os.path.join(out, "triples_store")))
        assert got == want


def test_stateful_first_seen_across_batches_and_restart(spark):
    """applyInPandasWithState: per-conversation seen-sets persist across
    micro-batches AND query restarts (checkpoint recovery) — a value
    repeated in a later append is NOT re-emitted."""
    from agraph_spark.streaming.stateful import start_first_seen_stream

    with tempfile.TemporaryDirectory() as d:
        inp, out = os.path.join(d, "in"), os.path.join(d, "out")
        b1 = spark.createDataFrame(
            [("c1", "alice"), ("c1", "alice"), ("c1", "bob"), ("c2", "alice")],
            "conv_id string, name_norm string")
        b1.write.mode("append").parquet(inp)
        q = start_first_seen_stream(spark, inp, out)
        q.awaitTermination(120)

        # second append: one repeat (c1, alice) and one genuinely new value
        b2 = spark.createDataFrame(
            [("c1", "alice"), ("c1", "carol"), ("c2", "alice")],
            "conv_id string, name_norm string")
        b2.write.mode("append").parquet(inp)
        q2 = start_first_seen_stream(spark, inp, out)  # restart from checkpoint
        q2.awaitTermination(120)

        got = {(r.conv_id, r.name_norm)
               for r in spark.read.parquet(f"{out}/rows").collect()}
        assert got == {("c1", "alice"), ("c1", "bob"), ("c1", "carol"), ("c2", "alice")}
        n = spark.read.parquet(f"{out}/rows").count()
        assert n == 4  # no re-emission of repeats


def test_stateful_first_seen_state_bound(spark, monkeypatch):
    """Beyond MAX_STATE the seen-set stops growing: overflow values pass
    through flagged truncated=True and are NOT remembered (documented
    recall trade — state per key stays bounded on monster conversations)."""
    from agraph_spark.streaming import stateful
    from agraph_spark.streaming.stateful import start_first_seen_stream

    monkeypatch.setattr(stateful, "MAX_STATE", 2)
    with tempfile.TemporaryDirectory() as d:
        inp, out = os.path.join(d, "in"), os.path.join(d, "out")
        # v3 repeated within the first batch: overflow values are emitted at
        # most ONCE per micro-batch (batch-local dedup), flagged truncated
        spark.createDataFrame(
            [("c1", f"v{i}") for i in range(4)] + [("c1", "v3")],
            "conv_id string, name_norm string"
        ).coalesce(1).write.mode("append").parquet(inp)  # one file: row order deterministic
        q = start_first_seen_stream(spark, inp, out)
        q.awaitTermination(120)
        rows = spark.read.parquet(f"{out}/rows").collect()
        assert len(rows) == 4  # 2 remembered + 2 overflow, batch-deduped
        assert sum(r.truncated for r in rows) == 2  # overflow is visible

        # overflow value repeated in a LATER batch: re-emitted (state did not
        # remember it) but still flagged so consumers dedup truncated rows
        spark.createDataFrame(
            [("c1", "v3"), ("c1", "v0")],
            "conv_id string, name_norm string").coalesce(1).write.mode("append").parquet(inp)
        q2 = start_first_seen_stream(spark, inp, out)
        q2.awaitTermination(120)
        rows = spark.read.parquet(f"{out}/rows").collect()
        vals = sorted((r.name_norm, bool(r.truncated)) for r in rows)
        assert ("v0", False) in vals and vals.count(("v0", False)) == 1  # remembered
        assert vals.count(("v3", True)) == 2  # once per batch, flagged


def test_merge_stream_equals_batch_and_is_idempotent(spark):
    """readStream -> foreachBatch(batch pipeline) -> MERGE loop: the
    bucket-partitioned store equals the batch pipeline's triples WITHOUT
    read-time dedup, and re-sending a conversation's transcripts in a later
    micro-batch leaves the store unchanged (content-key idempotency)."""
    tdf = transcripts_df(spark, n_convs=12, seed=21).persist()
    want = triple_set(build_kg(tdf).triples)

    with tempfile.TemporaryDirectory() as d:
        inp = os.path.join(d, "in")
        out = os.path.join(d, "out")
        store = os.path.join(out, "triples_store")

        tdf.where("conv_id < 'conv000006'").write.mode("append").parquet(inp)
        start_transcript_merge_stream(spark, inp, out, n_buckets=8) \
            .awaitTermination(120)

        # second drain: remaining convs PLUS a re-send of conv000003
        tdf.where("conv_id >= 'conv000006' or conv_id = 'conv000003'") \
            .write.mode("append").parquet(inp)
        start_transcript_merge_stream(spark, inp, out, n_buckets=8) \
            .awaitTermination(120)

        stored = spark.read.parquet(store)
        got = triple_set(stored)
        assert got == want
        # store is unique on the content key — MERGE, not append
        assert stored.count() == stored.select(
            "conv_id", "subj", "pred", "obj").distinct().count()


def test_merge_lineage_first_seen_numeric(spark):
    """ADVICE r3: first-seen lineage must order batch ids NUMERICALLY —
    'stream_batch=10' sorts lexicographically before 'stream_batch=2', so a
    string min() misattributes first-seen once ids reach double digits."""
    from agraph_spark.streaming.incremental import merge_triples_into_store

    row = [("c1", "Alice", "works_at", "Acme", 0.9)]
    schema = "conv_id string, subj string, pred string, obj string, conf double"

    with tempfile.TemporaryDirectory() as d:
        store = os.path.join(d, "store")
        for batch_id in (2, 10):
            new = spark.createDataFrame(row, schema).withColumn(
                "lineage", F.lit(f"stream_batch={batch_id}")
            )
            merge_triples_into_store(spark, new, store, n_buckets=4)
        got = spark.read.parquet(store).collect()
        assert len(got) == 1
        assert got[0].lineage == "stream_batch=2"
