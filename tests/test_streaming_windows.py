"""Watermarked session-window reassembly: late-within-watermark turns land
in their session; sessions split on event-time gaps."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

from agraph_spark.streaming.windows import start_sessionized_stream


def test_session_windows_split_on_gap(spark):
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # conv A: two bursts separated by 2h -> two sessions
        ("A", 0, "user", "a0", "", base),
        ("A", 1, "assistant", "a1", "", base + dt.timedelta(minutes=5)),
        ("A", 2, "user", "a2", "", base + dt.timedelta(hours=2)),
        # conv B: one burst; turn 1 arrives out of order in the file but
        # within the same window
        ("B", 1, "assistant", "b1", "", base + dt.timedelta(minutes=1)),
        ("B", 0, "user", "b0", "", base),
    ]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    with tempfile.TemporaryDirectory() as d:
        inp, out = os.path.join(d, "in"), os.path.join(d, "out")
        tdf.write.parquet(inp)
        q = start_sessionized_stream(spark, inp, out, watermark="10 minutes")
        q.awaitTermination(120)
        # second drain with a far-future heartbeat turn advances the
        # watermark so every real session finalizes
        hb = [("ZZ", 0, "user", "hb", "", base + dt.timedelta(days=2))]
        spark.createDataFrame(hb, tdf.schema).write.mode("append").parquet(inp)
        q2 = start_sessionized_stream(spark, inp, out, watermark="10 minutes")
        q2.awaitTermination(120)

        got = {
            (r.conv_id, r.text, r.n_turns)
            for r in spark.read.parquet(os.path.join(out, "sessions")).collect()
        }
    assert ("A", "a0\na1", 2) in got
    assert ("A", "a2", 1) in got  # gap > 30min split the session
    assert ("B", "b0\nb1", 2) in got  # stable turn order despite arrival order
