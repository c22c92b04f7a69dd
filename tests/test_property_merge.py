"""Property-based test (hypothesis): for ANY sequence of upsert/delete
change events split into ANY batch boundaries, the engine's final table
equals the sequential LWW oracle — the reference's record-level replay
contract generalized beyond its hand-picked cases."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine
from kafka_connect_fs_spark.testing.generator import (
    CHANGE_EVENT_SCHEMA,
    expected_final_state,
    write_jsonl,
)

BASE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

event_st = st.fixed_dictionaries(
    {
        "op": st.sampled_from(["upsert", "upsert", "upsert", "delete"]),
        "conv_id": st.sampled_from(["c0", "c1", "c2"]),
        "turn_idx": st.integers(0, 2),
        "role": st.sampled_from(["user", "assistant"]),
        "text": st.text(alphabet="abcxyz ", min_size=0, max_size=12),
        "tool": st.none(),
        # coarse ts pool → guaranteed ties, exercising the deterministic
        # (ts, src_file, src_offset) tie-break
        "ts": st.integers(0, 5).map(lambda s: BASE + dt.timedelta(seconds=s)),
    }
)


# compact_every=1 folds every bucket to one resolved file after every batch
# but the first (batch sequence 0)
@pytest.mark.parametrize("compact_every", [0, 1])
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(event_st, min_size=1, max_size=30),
    split=st.integers(0, 29),
)
def test_any_replay_matches_sequential_oracle(
    spark, tmp_path_factory, compact_every, rows, split
):
    tmp = tmp_path_factory.mktemp("prop")
    os.makedirs(tmp / "src")
    cut = min(split, len(rows))
    a, b = rows[:cut], rows[cut:]
    engine = IngestEngine(
        spark,
        IngestConfig(
            uris=[str(tmp / "src")],
            table_root=str(tmp / "t"),
            checkpoint_root=str(tmp / "c"),
            fmt="jsonl",
            schema=CHANGE_EVENT_SCHEMA,
            n_buckets=2,
            compact_every=compact_every,
            compact_min_files_per_bucket=1,
        ),
    )
    if a:
        write_jsonl(a, str(tmp / "src" / "f0.jsonl"))
        engine.run_once()
    if b:
        write_jsonl(b, str(tmp / "src" / "f1.jsonl"))
        engine.run_once()

    got = {
        (r.conv_id, r.turn_idx): r.text for r in engine.lake.read().collect()
    }
    exp = {k: v["text"] for k, v in expected_final_state(rows).items()}
    assert got == exp
    if compact_every and a and b:
        # the second batch compacted: one resolved file per bucket
        live, _, _ = engine.lake._state()
        buckets = [f["bucket"] for f in live.values()]
        assert len(buckets) == len(set(buckets))


# ----------------------------------------------------- line-scanner property


line_st = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="\n\r"
    ),
    min_size=0,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lines=st.lists(line_st, min_size=1, max_size=40),
    split=st.integers(8, 120),
    terminated=st.booleans(),
)
def test_line_scanner_recovers_any_file_under_any_split(
    spark, tmp_path_factory, lines, split, terminated
):
    """For ANY content and ANY byte-split size: every line comes back
    exactly once, values match, and each (offset, end) byte range slices
    the original file back to its line — the Hadoop split contract,
    property-tested (the reference can't split at all: one iterator per
    file)."""
    from kafka_connect_fs_spark.sources.readers import WorkItem, read_lines

    tmp = tmp_path_factory.mktemp("scan")
    p = str(tmp / "f.txt")
    data = "\n".join(lines).encode() + (b"\n" if terminated else b"")
    with open(p, "wb") as f:
        f.write(data)
    if not data:
        return
    expected = lines if (terminated or lines[-1] != "") else lines
    if not terminated and lines[-1] == "":
        expected = lines[:-1]  # no trailing newline → last empty line doesn't exist
    out = read_lines(
        spark, [WorkItem(p, 0, len(data))], max_split_bytes=split
    ).orderBy("_src_offset").collect()
    assert [r.value for r in out] == expected
    raw = open(p, "rb").read()
    for r in out:
        sliced = raw[r._src_offset : r._src_end].decode().rstrip("\n").rstrip("\r")
        assert sliced == r.value
