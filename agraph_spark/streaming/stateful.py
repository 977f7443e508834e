"""Custom stateful streaming operator via applyInPandasWithState.

First-seen dedup across the STREAM'S LIFETIME: the watermark/session
operators (windows.py) bound state by event time, but incremental KG
construction also needs "emit an entity/triple only the first time this
conversation produces it" — state that lives as long as the conversation,
across micro-batches and query restarts (checkpointed). That is exactly
Spark's arbitrary-stateful-processing slot: per-group state updated one
Arrow batch at a time (never per-row Python).

Reference counterpart: the incremental builder's seen-set
(/root/reference/agraph/builders/llm_builders.py:616-649 upsert semantics);
here the set is per-key distributed state, bounded by ``MAX_STATE`` per key
(a monster conversation cannot grow one executor's state without limit —
beyond the cap new values are emitted at most once per micro-batch with
``truncated=true``; consumers must dedup truncated rows across batches)."""

from __future__ import annotations

from pyspark.sql import DataFrame

MAX_STATE = 100_000  # values remembered per key, read when the plan is built


def stateful_first_seen(grouped_stream: DataFrame) -> DataFrame:
    """(conv_id, name_norm) rows -> only the first-ever occurrence of each
    name_norm per conv_id, across micro-batches. State: the per-key
    seen-set (array<string>), checkpoint-recovered on restart."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "conv_id string, name_norm string, truncated boolean"
    state_schema = "seen array<string>"
    cap = MAX_STATE  # read on the driver; the closure ships it to the workers

    def fn(key, pdfs, state: GroupState):
        seen = set(state.get[0]) if state.exists else set()
        # Past the cap the persistent set stops growing, so first-seen
        # degrades to "first seen per MICRO-BATCH" for overflow values: the
        # batch-local set below dedups within the batch, and each emitted
        # overflow row carries truncated=true so downstream consumers know
        # those rows need a batch-spanning dedup of their own. (Silently
        # re-emitting every occurrence — the round-2 behavior — inverted the
        # contract to pass-through; ADVICE r2.)
        batch_seen: set[str] = set()
        new_vals: list[str] = []
        flags: list[bool] = []  # per-ROW: only overflow rows carry true
        for pdf in pdfs:
            for v in pdf["name_norm"].dropna():
                if v in seen or v in batch_seen:
                    continue
                if len(seen) >= cap:
                    batch_seen.add(v)
                    new_vals.append(v)
                    flags.append(True)
                    continue
                seen.add(v)
                new_vals.append(v)
                flags.append(False)
        state.update((sorted(seen),))
        if new_vals:
            yield pd.DataFrame(
                {"conv_id": key[0], "name_norm": new_vals, "truncated": flags}
            )

    return grouped_stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_first_seen_stream(spark, input_dir: str, out_dir: str):
    """File-source wiring: appends under input_dir -> first-seen rows
    appended to out_dir/rows, state under out_dir/_checkpoint (restart
    resumes the seen-sets from the checkpoint)."""
    stream = spark.readStream.schema("conv_id string, name_norm string").parquet(input_dir)
    deduped = stateful_first_seen(stream)
    return (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{out_dir}/rows")
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
