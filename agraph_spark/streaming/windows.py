"""Event-time windowed streaming with watermarks for late data.

The reference has no late-data semantics (SURVEY.md §2.10) — this is the
Spark-native extension point for turn-level trickle ingestion: turns
arrive as an append stream, a watermark bounds state, and a session window
per conversation closes once no turn has arrived for ``SESSION_GAP`` of
event time; closed sessions are emitted as reassembled conversation documents
ready for the extraction kernel.

State/scale: state per open conversation is one aggregation buffer;
the watermark expires buffers for conversations idle past the gap +
lateness, so state is bounded by the number of ACTIVE conversations, not
the corpus (the 10^12-turn requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import TRANSCRIPTS

SESSION_GAP = "30 minutes"  # event-time silence that closes a session


def sessionized_conversations(turn_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming aggregation: turns -> one row per (conv_id, session
    window) with turns assembled in stable (turn_idx, ts) order.

    Ordering note: collect over a streaming aggregation is
    arrival-ordered, so the stable sort is applied to the collected
    array (array_sort on (turn_idx, ts, text) structs) — same total order
    as the batch reassembler."""
    return (
        turn_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", SESSION_GAP), F.col("conv_id"))
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "ts", "text"))),
                    lambda s: s["text"],
                ),
            ).alias("text"),
            F.count("*").cast("int").alias("n_turns"),
        )
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "text",
            "n_turns",
        )
    )


def start_sessionized_stream(
    spark,
    input_dir: str,
    out_dir: str,
    watermark: str = "1 hour",
):
    """File-source demo wiring: turn appends -> watermarked session windows
    -> parquet sink (append mode: only finalized windows are emitted)."""
    import os

    stream = spark.readStream.schema(TRANSCRIPTS).parquet(input_dir)
    sessions = sessionized_conversations(stream, watermark=watermark)
    return (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "sessions"))
        .option("checkpointLocation", os.path.join(out_dir, "_session_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
