"""Streaming sessionization: the built-in session_window agg and the
custom applyInPandasWithState operator must both reproduce gap-session
semantics — the custom one exactly, event-incrementally, across
micro-batches with O(1) state per user."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_fs_spark.streaming.sessions import (
    stateful_sessionize,
    streaming_session_window,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)

GAP_S = 1800
SENTINEL_TS = "2030-01-01 00:00:00"


def _event_files(spark, tmp_path, n_batches=3):
    """Real events (sf0.001), event-time ordered, split into n json files
    (micro-batches) + one sentinel event per user in the far future: the
    sentinel closes every user's final real session; the sentinel's own
    session stays open and is never emitted."""
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .where("user_id < 20")
        .select(
            "event_id", "user_id",
            F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.round("value", 4).alias("value"),
        )
        .orderBy("ts", "event_id")
        .collect()
    )
    src = tmp_path / "stream_src"
    os.makedirs(src)
    per = len(ev) // n_batches + 1
    for b in range(n_batches):
        chunk = ev[b * per : (b + 1) * per]
        if not chunk:
            continue
        with open(src / f"b{b}.json", "w") as f:
            for r in chunk:
                f.write(json.dumps(r.asDict()) + "\n")
    users = sorted({r.user_id for r in ev})
    with open(src / "z_sentinel.json", "w") as f:
        for i, u in enumerate(users):
            f.write(
                json.dumps(
                    {"event_id": 10**9 + i, "user_id": u, "ts": SENTINEL_TS, "value": 0.0}
                )
                + "\n"
            )
    # the file source delivers files in mtime order, breaking ties by
    # directory listing order; consecutive writes can share an mtime (the
    # file clock ticks in milliseconds), so pin the write order: the
    # operator requires event-time-ordered delivery across micro-batches
    names = sorted(os.listdir(src))
    t0 = time.time() - len(names)
    for i, name in enumerate(names):
        os.utime(src / name, (t0 + i, t0 + i))
    return str(src)


def test_stateful_sessionize_matches_session_window_oracle(spark, tmp_path):
    src = _event_files(spark, tmp_path)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")  # force several micro-batches
        .json(src)
    )
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    q = (
        stateful_sessionize(stream, gap_s=GAP_S)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "streaming query still running after 600s"
    got = spark.read.schema(
        "user_id long, session_no long, n_events long, "
        "session_start timestamp, session_end timestamp, session_value double"
    ).parquet(str(out_dir))
    got_rows = {
        (r.user_id, r.session_start, r.session_end, r.n_events): r.session_value
        for r in got.collect()
    }
    assert got_rows  # sessions were emitted incrementally

    # oracle: the BUILT-IN session_window agg in batch mode over the same
    # real events (sentinels excluded — their sessions never closed)
    batch = spark.read.schema(EVENT_SCHEMA).json(src).where(f"ts < '{SENTINEL_TS}'")
    exp = streaming_session_window(batch, gap_s=GAP_S)
    exp_rows = {
        (r.user_id, r.session_start, r.session_end, r.n_events): r.session_value
        for r in exp.collect()
    }
    assert set(got_rows) == set(exp_rows)
    for k, v in exp_rows.items():
        assert got_rows[k] == pytest.approx(v, abs=1e-6)

    # per-user session_no is a deterministic 1..k numbering by start time
    per_user = {}
    for r in sorted(got.collect(), key=lambda r: (r.user_id, r.session_start)):
        per_user.setdefault(r.user_id, []).append(r.session_no)
    assert all(nos == list(range(1, len(nos) + 1)) for nos in per_user.values())


def test_session_window_streaming_append_emits_closed_sessions(spark, tmp_path):
    """The built-in path end-to-end as a STREAM: watermark + session_window
    in append mode emits exactly the watermark-closed sessions."""
    src = _event_files(spark, tmp_path)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    out_dir = tmp_path / "swout"
    q = (
        streaming_session_window(stream, gap_s=GAP_S, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "swckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "streaming query still running after 600s"
    got = spark.read.schema(
        "user_id long, n_events long, session_start timestamp, "
        "session_end timestamp, session_value double"
    ).parquet(str(out_dir))
    batch = spark.read.schema(EVENT_SCHEMA).json(src).where(f"ts < '{SENTINEL_TS}'")
    exp = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in streaming_session_window(batch, gap_s=GAP_S).collect()
    }
    got_set = {
        (r.user_id, r.session_start, r.session_end, r.n_events) for r in got.collect()
    }
    # every emitted session is a true session; the sentinel batch pushed the
    # watermark past all real sessions, so all of them were emitted
    assert got_set == exp
