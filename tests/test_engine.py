"""End-to-end IngestEngine tests — the reference's FsSourceTaskTest analog.

Covers: full replay == oracle, no-op re-run, append tailing (resume from
committed offset — FsSourceTaskTest.java:171-185), skip-finished files
(:260-271), batching across triggers (:189-256), error tolerance (:285-316),
cleanup MOVE/DELETE (PolicyTestBase.java:162-232), regex filtering
(:141-157), crash recovery at every commit boundary (exactly-once, beyond
the reference's at-least-once).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine
from kafka_connect_fs_spark.testing.generator import (
    CHANGE_EVENT_SCHEMA,
    append_jsonl,
    expected_final_state,
    transcript_change_events,
    write_jsonl,
)


def make_engine(spark, tmp_path, src_dir="src", **overrides) -> IngestEngine:
    os.makedirs(tmp_path / src_dir, exist_ok=True)
    kwargs = dict(
        uris=[str(tmp_path / src_dir)],
        table_root=str(tmp_path / "table"),
        checkpoint_root=str(tmp_path / "ckpt"),
        fmt="jsonl",
        schema=CHANGE_EVENT_SCHEMA,
        n_buckets=4,
    )
    kwargs.update(overrides)
    return IngestEngine(spark, IngestConfig(**kwargs))


def table_state(engine) -> dict:
    return {
        (r.conv_id, r.turn_idx): r.text for r in engine.lake.read().collect()
    }


def assert_matches_oracle(engine, rows):
    exp = {k: v["text"] for k, v in expected_final_state(rows).items()}
    assert table_state(engine) == exp


def test_full_replay_matches_oracle_with_duplicates_and_out_of_order(spark, tmp_path):
    rows = transcript_change_events(20, 5, n_versions=3, shuffle=True)
    third = len(rows) // 3
    engine = make_engine(spark, tmp_path)
    write_jsonl(rows[:third], str(tmp_path / "src" / "a.jsonl"))
    write_jsonl(rows[third : 2 * third], str(tmp_path / "src" / "b.jsonl"))
    write_jsonl(rows[2 * third :], str(tmp_path / "src" / "c.jsonl"))
    res = engine.run_once()
    assert res.n_files == 3 and res.n_events == len(rows)
    assert_matches_oracle(engine, rows)


def test_second_run_is_noop(spark, tmp_path):
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(5, 3)
    write_jsonl(rows, str(tmp_path / "src" / "a.jsonl"))
    engine.run_once()
    res2 = engine.run_once()
    assert res2.n_files == 0 and res2.n_events == 0
    assert_matches_oracle(engine, rows)


def test_append_tail_resumes_from_offset(spark, tmp_path):
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(10, 4, n_versions=2)
    half = len(rows) // 2
    p = str(tmp_path / "src" / "grow.jsonl")
    write_jsonl(rows[:half], p)
    r1 = engine.run_once()
    assert r1.n_events == half
    append_jsonl(rows[half:], p)
    r2 = engine.run_once()
    assert r2.n_events == len(rows) - half  # ONLY the tail, not a re-read
    assert_matches_oracle(engine, rows)


def test_mid_batch_crash_recovery_is_exactly_once(spark, tmp_path, monkeypatch):
    """A crash right after the lake commit: the rows and their offsets
    landed together, so a restarted engine reads nothing again."""
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(8, 3)
    write_jsonl(rows, str(tmp_path / "src" / "a.jsonl"))
    calls = {"n": 0}

    def crash_after_commit(paths):
        calls["n"] += 1
        raise RuntimeError("simulated crash after the lake commit")

    monkeypatch.setattr(engine, "_cleanup", crash_after_commit)
    with pytest.raises(RuntimeError):
        engine.run_once()
    assert calls["n"] == 1

    engine = make_engine(spark, tmp_path)  # restart on the same roots
    res = engine.run_once()
    assert res.n_events == 0 and res.recovered is False
    assert_matches_oracle(engine, rows)
    # and the batch after that sees nothing new
    res3 = engine.run_once()
    assert res3.n_events == 0 and res3.recovered is False


def test_files_per_trigger_batches_deterministically(spark, tmp_path):
    engine = make_engine(spark, tmp_path, files_per_trigger=2)
    rows = transcript_change_events(9, 2)
    per_file = len(rows) // 3
    for i in range(3):
        write_jsonl(rows[i * per_file : (i + 1) * per_file], str(tmp_path / "src" / f"f{i}.jsonl"))
    r1, r2 = engine.run_once(), engine.run_once()
    assert (r1.n_files, r2.n_files) == (2, 1)
    assert_matches_oracle(engine, rows)


def test_regex_filters_on_file_name(spark, tmp_path):
    engine = make_engine(spark, tmp_path, regexp=r"^keep.*\.jsonl$")
    rows = transcript_change_events(4, 2)
    write_jsonl(rows, str(tmp_path / "src" / "keep_these.jsonl"))
    write_jsonl(
        transcript_change_events(2, 2, seed=7), str(tmp_path / "src" / "skip_these.jsonl")
    )
    res = engine.run_once()
    assert res.n_files == 1
    assert_matches_oracle(engine, rows)


def test_empty_files_skipped(spark, tmp_path):
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(3, 2)
    write_jsonl(rows, str(tmp_path / "src" / "a.jsonl"))
    open(tmp_path / "src" / "empty.jsonl", "w").close()
    res = engine.run_once()
    assert res.n_files == 1
    assert_matches_oracle(engine, rows)


def test_corrupt_lines_are_quarantined_not_fatal(spark, tmp_path):
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(3, 2)
    p = str(tmp_path / "src" / "a.jsonl")
    write_jsonl(rows, p)
    with open(p, "a") as f:
        f.write("this is not json\n{\"op\": \"upsert\"\n")
    res = engine.run_once()
    assert res.n_events == len(rows) + 2  # raw records seen
    assert_matches_oracle(engine, rows)  # but corrupt ones never reach the table


def test_cleanup_delete_after_fully_consumed(spark, tmp_path):
    engine = make_engine(spark, tmp_path, cleanup="delete")
    rows = transcript_change_events(3, 2)
    p = tmp_path / "src" / "a.jsonl"
    write_jsonl(rows, str(p))
    engine.run_once()  # ingests; file now fully consumed
    assert p.exists()  # cleanup happens on *re-encounter*, like the reference
    res2 = engine.run_once()
    assert not p.exists() and res2.cleaned
    assert_matches_oracle(engine, rows)


def test_cleanup_move_after_fully_consumed(spark, tmp_path):
    dest = tmp_path / "done"
    engine = make_engine(spark, tmp_path, cleanup="move", cleanup_move_dir=str(dest))
    rows = transcript_change_events(3, 2)
    p = tmp_path / "src" / "a.jsonl"
    write_jsonl(rows, str(p))
    engine.run_once()
    engine.run_once()
    assert not p.exists() and (dest / "a.jsonl").exists()
    assert_matches_oracle(engine, rows)


def test_cleanup_move_prefix_applied(spark, tmp_path):
    """policy.cleanup.move.prefix parity (AbstractPolicy.java:288):
    moved files gain the configured filename prefix."""
    dest = tmp_path / "done"
    engine = make_engine(
        spark, tmp_path, cleanup="move", cleanup_move_dir=str(dest),
        cleanup_move_prefix="done-",
    )
    rows = transcript_change_events(3, 2)
    p = tmp_path / "src" / "a.jsonl"
    write_jsonl(rows, str(p))
    engine.run_once()
    engine.run_once()
    assert not p.exists() and (dest / "done-a.jsonl").exists()


def test_delete_op_removes_turn(spark, tmp_path):
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(3, 2)
    write_jsonl(rows, str(tmp_path / "src" / "a.jsonl"))
    engine.run_once()
    del_row = dict(rows[0])
    del_row.update(op="delete", conv_id="conv_000001", turn_idx=0)
    del_row["ts"] = max(r["ts"] for r in rows) + __import__("datetime").timedelta(seconds=5)
    write_jsonl([del_row], str(tmp_path / "src" / "b.jsonl"))
    engine.run_once()
    assert_matches_oracle(engine, rows + [del_row])
    assert ("conv_000001", 0) not in table_state(engine)


def test_metrics_jsonl_written_with_per_bucket_lineage(spark, tmp_path):
    engine = make_engine(spark, tmp_path)
    write_jsonl(transcript_change_events(5, 2), str(tmp_path / "src" / "a.jsonl"))
    engine.run_once()
    import json

    lines = [json.loads(l) for l in open(tmp_path / "ckpt" / "metrics.jsonl")]
    assert lines and lines[0]["rows_written"] == 10
    assert sum(lines[0]["rows_per_bucket"].values()) == 10


def test_custom_reader_plugin(spark, tmp_path):
    """Parser-registry parity with the reference's file_reader.class
    reflection plugins (util/ReflectionUtils.java:18-38)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from kafka_connect_fs_spark.sources.readers import register_reader, read_lines

    def pipe_reader(spark_, items, options):
        # toy format: "conv|turn|text" lines — built from the vectorized
        # line scanner + JVM-side split, like any real plugin would be
        lines = read_lines(spark_, items)
        p = F.split(F.col("value"), r"\|")
        return lines.select(
            "_src_file", "_src_offset",
            p.getItem(0).alias("conv_id"),
            p.getItem(1).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            p.getItem(2).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(dt.datetime(2024, 1, 1)).alias("ts"),
            F.lit("upsert").alias("op"),
        )

    register_reader("pipeformat", pipe_reader)
    engine = make_engine(
        spark, tmp_path, fmt="agnostic",
        reader_options={"format_overrides": {"pipe": "pipeformat"}},
    )
    with open(tmp_path / "src" / "d.pipe", "w") as f:
        f.write("c1|0|hello\nc1|1|world\n")
    res = engine.run_once()
    assert res.rows_written == 2
    assert {(r.conv_id, r.turn_idx, r.text) for r in engine.lake.read().collect()} == {
        ("c1", 0, "hello"), ("c1", 1, "world"),
    }


def test_bytes_per_trigger_caps_batch(spark, tmp_path):
    """file_reader.batch_size / maxBytesPerTrigger analog: admit at most N
    tail bytes per trigger; the remainder arrives next trigger."""
    engine = make_engine(spark, tmp_path, bytes_per_trigger=1)  # 1 byte → 1 file/batch
    rows = transcript_change_events(6, 2)
    per = len(rows) // 3
    for i in range(3):
        write_jsonl(rows[i * per : (i + 1) * per], str(tmp_path / "src" / f"f{i}.jsonl"))
    results = [engine.run_once() for _ in range(3)]
    assert [r.n_files for r in results] == [1, 1, 1]
    assert_matches_oracle(engine, rows)


def test_crash_during_merge_write_leaves_no_partial_state(spark, tmp_path):
    """A crash mid-write (data files on disk, no commit log entry) must be
    invisible: the next run re-plans the same batch, the orphan files are
    never referenced, and vacuum removes them."""
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(5, 2)
    write_jsonl(rows, str(tmp_path / "src" / "a.jsonl"))

    # simulate: partial write of a failed attempt with no commit record
    # (a same-version retry is cleaned by the write's own overwrite mode;
    # this one has a version that is never retried)
    orphan_dir = tmp_path / "table" / "data" / f"c{99:020d}" / "_pb=0"
    os.makedirs(orphan_dir)
    spark.createDataFrame([(1,)], "x int").coalesce(1).write.mode("overwrite").parquet(
        str(orphan_dir / "junk")
    )

    engine.run_once()
    assert_matches_oracle(engine, rows)
    removed = engine.lake.vacuum(min_age_seconds=0)
    assert removed >= 1  # orphans gone
    assert_matches_oracle(engine, rows)  # and the table is intact


def test_unreadable_file_does_not_advance_offset(spark, tmp_path, monkeypatch):
    """Code-review regression: a file whose read fails (here: vanished
    between listing and read — a real race) must keep its committed offset,
    marked not-eof, and be retried; readable neighbors still ingest. The
    range-outcome markers generalize this to multi-split files: ANY failed
    range pins the offset at the hole."""
    import kafka_connect_fs_spark.streaming.engine as E
    from kafka_connect_fs_spark.sources.discovery import FileMeta

    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(5, 2)
    write_jsonl(rows, str(tmp_path / "src" / "good.jsonl"))
    phantom = str(tmp_path / "src" / "vanished.jsonl")

    real_list = E.list_files

    def list_with_phantom(*a, **kw):
        return sorted(
            real_list(*a, **kw) + [FileMeta(phantom, 1000, 0.0)],
            key=lambda f: f.path,
        )

    monkeypatch.setattr(E, "list_files", list_with_phantom)
    r1 = engine.run_once()
    assert r1.rows_written == 10  # good file ingested despite the failure
    wm = {r.path: r for r in engine.watermarks.load().collect()}
    assert wm[phantom].committed_offset == 0 and wm[phantom].eof is False
    # retried on the next trigger (still failing → still pinned at 0)
    r2 = engine.run_once()
    assert r2.n_files == 1
    monkeypatch.setattr(E, "list_files", real_list)
    assert_matches_oracle(engine, rows)


def test_rename_with_mixed_generation_files_reads_coalesced(spark, tmp_path):
    """Code-review regression: after a metadata-only rename, buckets written
    before the rename still physically contain the old column; reads must
    coalesce old into new instead of producing duplicate columns."""
    engine = make_engine(spark, tmp_path, rename_hints={"tool": "tool_name"})
    rows = transcript_change_events(8, 2)  # spread across several buckets
    # make tool non-null so the coalesce is observable
    for r in rows:
        r["tool"] = f"t_{r['turn_idx']}"
    write_jsonl(rows, str(tmp_path / "src" / "a.jsonl"))
    engine.run_once()

    # batch 2: new name, touching only SOME buckets
    import datetime as dt
    import json as _json

    base = max(r["ts"] for r in rows)
    with open(tmp_path / "src" / "b.jsonl", "w") as f:
        f.write(
            _json.dumps(
                {
                    "op": "upsert", "conv_id": rows[0]["conv_id"], "turn_idx": 0,
                    "role": "user", "text": "evolved", "tool_name": "newtool",
                    "ts": (base + dt.timedelta(seconds=1)).strftime("%Y-%m-%dT%H:%M:%S.%f"),
                }
            )
            + "\n"
        )
    from pyspark.sql import types as T

    from kafka_connect_fs_spark.testing.generator import CHANGE_EVENT_SCHEMA

    schema_v2 = T.StructType(
        [f for f in CHANGE_EVENT_SCHEMA.fields if f.name != "tool"]
    ).add("tool_name", T.StringType())
    engine.config.schema = schema_v2
    engine.run_once()

    df = engine.lake.read()
    assert df.columns.count("tool_name") == 1 and "tool" not in df.columns
    vals = {(r.conv_id, r.turn_idx): r.tool_name for r in df.collect()}
    # old-generation rows keep their pre-rename values via coalesce
    assert vals[(rows[0]["conv_id"], 0)] == "newtool"
    assert all(v is not None for v in vals.values())


def test_auto_compaction_runs_on_schedule(spark, tmp_path):
    engine = make_engine(spark, tmp_path, compact_every=2, compact_min_files_per_bucket=1)
    rows = transcript_change_events(6, 2)
    per = len(rows) // 3
    for i in range(3):
        write_jsonl(rows[i * per : (i + 1) * per], str(tmp_path / "src" / f"f{i}.jsonl"))
        engine.run_once()
    assert any(c.metrics.get("compaction") for c in engine.lake.commits())
    assert_matches_oracle(engine, rows)


def test_run_loop_tolerates_batch_failures(spark, tmp_path, monkeypatch):
    """Policy loop parity (FsSourceTask.java:127-133): a failing batch is
    logged and retried on the next trigger; the final state is exact."""
    from kafka_connect_fs_spark.streaming.triggers import SleepyPolicy

    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(4, 2)
    write_jsonl(rows, str(tmp_path / "src" / "a.jsonl"))

    real = engine._cleanup
    state = {"failed_once": False}

    def flaky_cleanup(paths):
        # the first call follows the first batch's lake commit
        if not state["failed_once"]:
            state["failed_once"] = True
            raise RuntimeError("transient failure")
        return real(paths)

    monkeypatch.setattr(engine, "_cleanup", flaky_cleanup)
    results = engine.run(SleepyPolicy(sleep_s=0.01, max_execs=3))
    assert len(results) == 2  # first trigger failed, two succeeded
    # the failed batch had committed: nothing is read twice
    assert [r.n_events for r in results] == [0, 0]
    assert_matches_oracle(engine, rows)


def test_agnostic_mixed_format_directory(spark, tmp_path):
    """One source dir with .jsonl AND .csv change-event files — extension
    dispatch (AgnosticFileReader parity) unions both parses into one MERGE."""
    from kafka_connect_fs_spark.testing.generator import write_csv

    engine = make_engine(spark, tmp_path, fmt="agnostic")
    rows = transcript_change_events(8, 2, n_versions=2)
    half = len(rows) // 2
    write_jsonl(rows[:half], str(tmp_path / "src" / "a.jsonl"))
    write_csv(rows[half:], str(tmp_path / "src" / "b.csv"))
    res = engine.run_once()
    assert res.n_files == 2
    assert_matches_oracle(engine, rows)
    # both watermarks committed to eof
    wm = {os.path.basename(r.path): r.eof for r in engine.watermarks.load().collect()}
    assert wm == {"a.jsonl": True, "b.csv": True}


def test_whole_file_formats_land_records_and_consume_poison_files(spark, tmp_path):
    """The engine's whole-file branch: a good YAML file lands its records, a
    poison (unparseable) YAML file is consumed with zero records instead of
    stalling the pipeline, and a ``text_whole`` file lands as one record in
    the ``field_name`` column. Every file's watermark commits eof, so the
    next trigger reads nothing."""
    from pyspark.sql import functions as F

    def note_keys(df):  # key the text_whole record (it has only a body)
        return (
            df.withColumn("op", F.coalesce("op", F.lit("upsert")))
            .withColumn("conv_id", F.coalesce("conv_id", F.lit("note")))
            .withColumn("turn_idx", F.coalesce("turn_idx", F.lit(0)))
            .withColumn("ts", F.coalesce("ts", F.lit("2024-01-01").cast("timestamp")))
        )

    engine = make_engine(
        spark, tmp_path, fmt="agnostic", transform=note_keys,
        reader_options={"explode_list": True, "field_name": "text",
                        "format_overrides": {"txt": "text_whole"}},
    )
    src = tmp_path / "src"
    (src / "good.yaml").write_text(
        "- {op: upsert, conv_id: c1, turn_idx: 0, text: hi, ts: '2024-01-01 00:00:00'}\n"
        "- {op: upsert, conv_id: c1, turn_idx: 1, text: yo, ts: '2024-01-01 00:00:01'}\n"
    )
    (src / "poison.yaml").write_text("key: [unclosed\n")
    (src / "note.txt").write_text("free text\nsecond line\n")
    res = engine.run_once()
    assert res.n_files == 3 and res.quarantined == 0
    assert table_state(engine) == {
        ("c1", 0): "hi", ("c1", 1): "yo", ("note", 0): "free text\nsecond line\n"
    }
    wm = {os.path.basename(r.path): r.eof for r in engine.watermarks.load().collect()}
    assert wm == {"good.yaml": True, "poison.yaml": True, "note.txt": True}
    assert engine.run_once().n_files == 0


# ------------------------------------------------- scheme-agnostic cleanup


def test_cleanup_through_file_uri_uses_pyarrow_path(spark, tmp_path):
    """file:// URIs exercise the exact code path remote schemes take
    (pyarrow.fs), end-to-end: discovery -> ingest -> MOVE on re-encounter."""
    dest = tmp_path / "archive"
    engine = make_engine(
        spark, tmp_path,
        uris=[f"file://{tmp_path / 'src'}"],
        cleanup="move", cleanup_move_dir=str(dest),
    )
    rows = transcript_change_events(3, 2)
    write_jsonl(rows, str(tmp_path / "src" / "a.jsonl"))
    engine.run_once()
    res = engine.run_once()  # re-encounter triggers the cleanup
    assert res.cleaned
    assert not (tmp_path / "src" / "a.jsonl").exists()
    assert (dest / "a.jsonl").exists()
    assert_matches_oracle(engine, rows)

    # a URI-form path takes the pyarrow.fs branch explicitly: real move on
    # the local filesystem driven through the FileSystem API
    write_jsonl(rows, str(tmp_path / "src" / "b.jsonl"))
    done = engine._cleanup([f"file://{tmp_path / 'src' / 'b.jsonl'}"])
    assert done == [f"file://{tmp_path / 'src' / 'b.jsonl'}"]
    assert not (tmp_path / "src" / "b.jsonl").exists()
    assert (dest / "b.jsonl").exists()
    # replay of the URI (now NotFound) is idempotent success
    assert engine._cleanup([f"file://{tmp_path / 'src' / 'b.jsonl'}"]) == [
        f"file://{tmp_path / 'src' / 'b.jsonl'}"
    ]


def test_cleanup_move_across_devices(spark, tmp_path):
    """MOVE into a directory on another device: a rename cannot cross
    devices, so the file is copied and its source deleted."""
    shm = "/dev/shm"
    if not os.path.isdir(shm) or os.stat(shm).st_dev == os.stat(tmp_path).st_dev:
        pytest.skip("needs /dev/shm on a different device than tmp_path")
    dest = tempfile.mkdtemp(dir=shm)
    try:
        engine = make_engine(spark, tmp_path, cleanup="move", cleanup_move_dir=dest)
        src = tmp_path / "src" / "a.jsonl"
        src.write_text('{"k": 1}\n')
        assert engine._cleanup([str(src)]) == [str(src)]
        assert not src.exists()
        with open(os.path.join(dest, "a.jsonl")) as f:
            assert f.read() == '{"k": 1}\n'
    finally:
        shutil.rmtree(dest, ignore_errors=True)


class _FakeRemoteFS:
    """Minimal pyarrow.fs.FileSystem stand-in recording side-effects."""

    def __init__(self, existing: set, calls: list):
        self.existing, self.calls = existing, calls

    def get_file_info(self, sub):
        import types

        import pyarrow.fs as pafs

        t = pafs.FileType.File if sub in self.existing else pafs.FileType.NotFound
        return types.SimpleNamespace(type=t)

    def delete_file(self, sub):
        self.calls.append(("delete", sub))
        self.existing.discard(sub)

    def create_dir(self, sub, recursive=False):
        self.calls.append(("create_dir", sub))

    def move(self, src, dest):
        self.calls.append(("move", src, dest))
        self.existing.discard(src)
        self.existing.add(dest)


def test_cleanup_remote_delete_and_replay_idempotence(spark, tmp_path, monkeypatch):
    """Remote URIs: DELETE goes through the FS client; only NotFound counts
    as already-cleaned replay; an FS error keeps the path OUT of `done`
    (so its watermark row survives and the cleanup is retried) instead of
    silently claiming success."""
    from kafka_connect_fs_spark.sources import discovery

    calls: list = []
    fake = _FakeRemoteFS({"bucket/seen.jsonl"}, calls)
    monkeypatch.setattr(
        discovery, "fs_of", lambda uri: (fake, uri.split("://", 1)[1])
    )
    engine = make_engine(spark, tmp_path, cleanup="delete")

    done = engine._cleanup(["s3://bucket/seen.jsonl"])
    assert done == ["s3://bucket/seen.jsonl"]
    assert calls == [("delete", "bucket/seen.jsonl")]

    # replay: object already gone -> idempotent success, no second delete
    done2 = engine._cleanup(["s3://bucket/seen.jsonl"])
    assert done2 == ["s3://bucket/seen.jsonl"] and len(calls) == 1

    # transient FS failure -> path NOT reported clean, no exception
    def boom(sub):
        raise OSError("503 slow down")

    fake.existing.add("bucket/flaky.jsonl")
    fake.delete_file = boom
    assert engine._cleanup(["s3://bucket/flaky.jsonl"]) == []


@pytest.mark.parametrize(
    "uri,prefix,move_dir",
    # the client strips what pyarrow's from_uri strips: s3 keeps the
    # bucket in the path, hdfs drops the namenode authority
    [("s3://bucket/seen.jsonl", "s3://", "bucket/archive"),
     ("hdfs://nn:8020/in/seen.jsonl", "hdfs://nn:8020", "/archive")],
)
def test_cleanup_remote_move_to_bare_dir(spark, tmp_path, monkeypatch, uri, prefix, move_dir):
    """A cleanup_move_dir with no scheme lives on the source's own
    filesystem, as a scheme-less Hadoop Path does under the reference's
    fs.rename: a remote source moves within its client, never onto the
    local disk and never as a cross-filesystem error."""
    from kafka_connect_fs_spark.sources import discovery

    calls: list = []
    sub = uri[len(prefix):]
    fake = _FakeRemoteFS({sub}, calls)
    authority = uri[: uri.index("/", uri.index("://") + 3)]
    monkeypatch.setitem(discovery._REMOTE, authority, (fake, len(prefix)))
    engine = make_engine(spark, tmp_path, cleanup="move", cleanup_move_dir=move_dir)

    assert engine._cleanup([uri]) == [uri]
    assert calls == [
        ("create_dir", move_dir),
        ("move", sub, f"{move_dir}/seen.jsonl"),
    ]
    assert engine._cleanup([uri]) == [uri] and len(calls) == 2  # replay


def test_transient_remote_stat_error_keeps_watermark_and_ack(spark, tmp_path, monkeypatch):
    """Only NotFound means a re-offered file vanished. A remote-FS error
    while stat'ing it must fail the batch (the next trigger retries), not
    purge its non-eof watermark row and ack its discovery message — that
    would skip the file's unread tail for good."""
    from kafka_connect_fs_spark.sources import discovery

    fake = _FakeRemoteFS({"bucket/a.jsonl"}, [])

    def flaky(sub):
        raise OSError("503 slow down")

    fake.get_file_info = flaky
    monkeypatch.setattr(
        discovery, "fs_of", lambda uri: (fake, uri.split("://", 1)[1])
    )
    acked: list = []
    engine = make_engine(
        spark, tmp_path, uris=[], discovery_fn=lambda: [],
        discovery_ack_fn=lambda paths: acked.append(set(paths)),
    )
    uri = "s3://bucket/a.jsonl"
    engine.watermarks.commit(
        [{"path": uri, "committed_offset": 5, "file_size": 10, "eof": False}], 0
    )
    with pytest.raises(OSError, match="503"):
        engine.run_once()
    assert not engine.watermarks.load_dict()[uri]["eof"]
    assert uri not in engine._vanished
    assert all(uri not in a for a in acked)


# ------------------------------------------------------- shrank / torn files


def test_shrunk_file_reingested_from_zero(spark, tmp_path):
    """Truncate-and-replace in place: committed offset points past the new
    content -> treated as a brand-new file, not stalled or deleted unread."""
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(6, 3)
    p = str(tmp_path / "src" / "rot.jsonl")
    write_jsonl(rows, p)
    engine.run_once()
    import datetime as _dt

    replacement = transcript_change_events(2, 2, seed=99)
    # bump ts so the replacement wins LWW over the first generation
    for i, r in enumerate(replacement):
        r["ts"] = _dt.datetime(2031, 1, 1) + _dt.timedelta(seconds=i)
    write_jsonl(replacement, p)  # overwrite: much smaller file
    assert os.path.getsize(p) < engine.watermarks.load_dict()[p]["committed_offset"]
    res = engine.run_once()
    assert res.n_events == len(replacement)
    got = table_state(engine)
    for r in replacement:
        assert got[(r["conv_id"], r["turn_idx"])] == r["text"]


def test_torn_line_at_snapshot_boundary_held_back(spark, tmp_path):
    """A line straddling the listing-time snapshot end (file still growing)
    must be held back whole — never emitted as a torn half-record with the
    offset committed mid-line (which would corrupt BOTH halves)."""
    # byte-range scanner path (the native whole-file reader has no snapshot
    # clamp to tear lines against)
    engine = make_engine(spark, tmp_path, reader_options={"jvm_fast_path": False})
    rows = transcript_change_events(4, 2)
    p = str(tmp_path / "src" / "grow.jsonl")
    write_jsonl(rows, p)
    import json as _json

    with open(p, "rb") as f:
        lines = f.read().splitlines(keepends=True)
    last = lines[-1]
    cut = len(last) // 2
    with open(p, "wb") as f:
        f.write(b"".join(lines[:-1]) + last[:cut])
    snap_len = os.path.getsize(p)

    # simulate "file grew between listing and read": plan against the torn
    # snapshot, then complete the line on disk before the read happens
    from kafka_connect_fs_spark.sources.discovery import FileMeta

    listing = [FileMeta(p, snap_len, 0.0)]
    work, _ = engine._plan(listing, engine.watermarks.load_dict())
    with open(p, "ab") as f:
        f.write(last[cut:])

    from kafka_connect_fs_spark.sources.readers import (
        RANGE_PARTIAL,
        outcome_accumulator,
    )

    acc = outcome_accumulator(spark)
    events, native = engine._read(work, acc)
    got = events.collect()
    assert len(got) == len(rows) - 1  # torn record held back entirely
    assert all(r.conv_id is not None for r in got)  # every emitted line parses
    # tail pending -> not eof, re-read next trigger
    assert [(o.kind, o.consumed_end) for o in acc.value] == [
        (RANGE_PARTIAL, snap_len - cut)
    ]

    # and end-to-end: the next engine pass picks the completed line up
    engine.run_once()
    engine.run_once()
    assert_matches_oracle(engine, rows)


def test_mor_steady_state_file_count_bounded_by_compaction(spark, tmp_path):
    """MoR read amplification control: under compact_every, live file
    count stays bounded however many batches stream in (each batch appends
    a delta set; compaction folds them to one resolved file per bucket)."""
    engine = make_engine(
        spark, tmp_path, n_buckets=4, compact_every=3,
        compact_min_files_per_bucket=2,
    )
    rows = transcript_change_events(8, 2, n_versions=3)
    per = max(1, len(rows) // 9)
    counts = []
    for i in range(9):
        # last chunk takes the remainder so the oracle sees every row
        chunk = rows[i * per :] if i == 8 else rows[i * per : (i + 1) * per]
        if not chunk:
            break
        write_jsonl(chunk, str(tmp_path / "src" / f"f{i}.jsonl"))
        engine.run_once()
        live, _, _ = engine.lake._state()
        counts.append(len(live))
    # bounded: never exceeds buckets × (compact_every + 1) despite 9 batches
    assert max(counts) <= 4 * 4, counts
    # post-compaction floors back to ≤ one file per bucket
    assert min(counts[3:]) <= 4, counts
    assert_matches_oracle(engine, rows)


def test_hot_key_skew_ingest_is_exact(spark, tmp_path):
    """North-rule skew clause: 40% of all events concentrated on one
    conv_id must still produce the exact LWW state (map-side partial
    aggregation absorbs the hot key; no reducer sees its raw volume)."""
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(10, 3, n_versions=2, zipf_hot_fraction=0.4)
    write_jsonl(rows, str(tmp_path / "src" / "hot.jsonl"))
    res = engine.run_once()
    assert res.n_events == len(rows)
    assert_matches_oracle(engine, rows)


def test_auto_salt_controller_rise_cap_decay(spark, tmp_path):
    """write_salt='auto' feedback law: salt = ceil(hottest bucket rows /
    target), rise immediate, capped at max_write_salt, decay one step per
    calm batch, floor 1. Pure-controller test over stub commits."""
    engine = make_engine(
        spark,
        tmp_path,
        write_salt="auto",
        target_rows_per_write_task=100,
        max_write_salt=4,
    )

    class _C:
        def __init__(self, added):
            self.added = added

    assert engine._auto_salt == 1
    # hot bucket: ceil(350/100) = 4 — immediate rise
    engine._update_auto_salt(_C([{"bucket": 0, "rows": 350}, {"bucket": 1, "rows": 10}]))
    assert engine._auto_salt == 4
    # hotter still: capped at max_write_salt
    engine._update_auto_salt(_C([{"bucket": 2, "rows": 10_000}]))
    assert engine._auto_salt == 4
    # calm batches decay one step each, never below 1
    for expected in (3, 2, 1, 1):
        engine._update_auto_salt(_C([{"bucket": 0, "rows": 10}]))
        assert engine._auto_salt == expected
    # empty commit (no files added) also counts as calm, floors at 1
    engine._update_auto_salt(_C([]))
    assert engine._auto_salt == 1


def test_auto_write_salt_applies_next_batch_and_stays_exact(spark, tmp_path):
    """Integration: a hot batch raises the salt the NEXT merge uses (the
    commit's recorded write_salt metric proves it); final state still
    hash-matches the LWW oracle — salting never changes results."""
    engine = make_engine(
        spark,
        tmp_path,
        write_salt="auto",
        target_rows_per_write_task=10,
        max_write_salt=8,
    )
    # batch 1 runs at salt 1 (no history yet) but its commit measures a
    # hot bucket: 40% of 60 events on one conv_id → ≥24 rows in one bucket
    rows1 = transcript_change_events(10, 3, n_versions=2, zipf_hot_fraction=0.4)
    write_jsonl(rows1, str(tmp_path / "src" / "hot1.jsonl"))
    engine.run_once()
    c1 = engine.lake.commits()[-1]
    assert c1.metrics["write_salt"] == 1
    raised = engine._auto_salt
    assert raised > 1
    # batch 2 (still hot) is written with the raised salt
    rows2 = transcript_change_events(
        10, 3, n_versions=2, zipf_hot_fraction=0.4, seed=7
    )
    write_jsonl(rows2, str(tmp_path / "src" / "hot2.jsonl"))
    engine.run_once()
    c2 = engine.lake.commits()[-1]
    assert c2.metrics["write_salt"] == raised
    assert_matches_oracle(engine, rows1 + rows2)


def test_write_salt_config_validation(spark, tmp_path):
    for bad in (0, -1, "bogus", 1.5):
        with pytest.raises(ValueError, match="write_salt"):
            make_engine(spark, tmp_path, write_salt=bad)


def test_engine_type_widening_across_schema_versions(spark, tmp_path):
    """A redeployed pipeline whose declared schema widened a column
    (int -> long) keeps ingesting into the same table: old files upcast at
    read, the batch diff records the type change."""
    import json as _json

    from pyspark.sql import types as T

    def schema(score_type):
        return T.StructType(
            [
                T.StructField("conv_id", T.StringType()),
                T.StructField("turn_idx", T.IntegerType()),
                T.StructField("role", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("score", score_type),
                T.StructField("ts", T.TimestampType()),
            ]
        )

    def write(path, rows):
        with open(path, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    e1 = make_engine(spark, tmp_path, schema=schema(T.IntegerType()))
    write(
        tmp_path / "src" / "v1.jsonl",
        [{"conv_id": "c1", "turn_idx": 0, "role": "u", "text": "a", "score": 7,
          "ts": "2024-01-01 00:00:01"}],
    )
    e1.run_once()

    e2 = make_engine(spark, tmp_path, schema=schema(T.LongType()))  # same table
    big = 2**40
    write(
        tmp_path / "src" / "v2.jsonl",
        [{"conv_id": "c2", "turn_idx": 0, "role": "u", "text": "b", "score": big,
          "ts": "2024-01-01 00:00:02"}],
    )
    res = e2.run_once()
    assert res.schema_diff and ["score", "int", "bigint"] in res.schema_diff["type_changed"]
    got = {r.conv_id: r.score for r in e2.lake.read().collect()}
    assert got == {"c1": 7, "c2": big}
    assert dict(e2.lake.read().dtypes)["score"] == "bigint"


def test_watermark_snapshot_retention_and_cache(spark, tmp_path):
    """The offsets live in the lake's log: nothing is written under the
    checkpoint's old store directory, the state checkpoints keep only the
    newest two snapshots, the view answers from the lake's in-process
    state (no re-read per call), and a cold open loads the same offsets."""
    engine = make_engine(spark, tmp_path)
    engine.lake._ckpt_every = 2
    for i in range(5):
        write_jsonl(transcript_change_events(2, 2, seed=i),
                    str(tmp_path / "src" / f"f{i}.jsonl"))
        engine.run_once()
    assert not (tmp_path / "ckpt" / "watermarks").exists()
    ckpts = [n for n in os.listdir(tmp_path / "table" / "_log") if n.endswith(".ckpt.json")]
    assert len(ckpts) == 2, ckpts  # retention
    d1 = engine.watermarks.load_dict()
    d2 = engine.watermarks.load_dict()
    assert d1 is d2 and len(d1) == 5
    fresh = make_engine(spark, tmp_path)  # cold: newest checkpoint + suffix
    assert fresh.watermarks.load_dict() == d1
    assert fresh.watermarks.last_seq() == engine.watermarks.last_seq() == 4


def test_no_driver_stats_on_happy_path(spark, tmp_path, monkeypatch):
    """The listing already stat'ed every file: a batch where nothing
    vanished must not re-stat files on the driver (at 10^5 files/trigger a
    per-file pre-check is a second listing). A stat is reserved for the
    native reader's planning-failure path."""
    from kafka_connect_fs_spark.sources import discovery

    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(5, 2)
    write_jsonl(rows, str(tmp_path / "src" / "a.jsonl"))
    calls = []
    real = discovery.stat
    monkeypatch.setattr(discovery, "stat", lambda p: calls.append(p) or real(p))
    r = engine.run_once()
    assert r.rows_written == 10
    assert calls == []


def test_records_per_file_per_trigger_drains_without_loss(spark, tmp_path):
    """file_reader.batch_size parity (AbstractFileReader.java:76-86): a
    1,000-line file with a 100-record cap drains in exactly 10 triggers,
    offsets advance monotonically each trigger, and the final table equals
    the full-replay oracle (no loss, no duplication)."""
    engine = make_engine(
        spark, tmp_path, records_per_file_per_trigger=100, n_buckets=2
    )
    rows = transcript_change_events(100, 10)  # 1000 events, one per line
    assert len(rows) == 1000
    path = str(tmp_path / "src" / "big.jsonl")
    write_jsonl(rows, path)
    offsets, total = [], 0
    for trigger in range(10):
        r = engine.run_once()
        assert r.n_events == 100, (trigger, r.n_events)
        total += r.n_events
        wm = {w.path: w for w in engine.watermarks.load().collect()}[path]
        offsets.append(wm.committed_offset)
        assert wm.eof is (trigger == 9)
    assert offsets == sorted(offsets) and len(set(offsets)) == 10
    assert engine.run_once().n_events == 0  # drained
    assert_matches_oracle(engine, rows)


def test_records_cap_on_compressed_file_not_marked_eof_early(spark, tmp_path):
    """A gzip file under records_per_file_per_trigger must NOT be marked
    eof (and must not be cleaned up) while records are still held back:
    decompressed committed offsets routinely exceed the compressed
    listing size, so `end >= size` is meaningless for compressed files."""
    import gzip as _gzip
    import json as _json

    engine = make_engine(
        spark, tmp_path, records_per_file_per_trigger=100, n_buckets=2,
        cleanup="delete",
    )
    rows = transcript_change_events(30, 10)  # 300 events
    path = str(tmp_path / "src" / "big.jsonl.gz")
    with _gzip.open(path, "wt") as f:
        for r in rows:
            rr = dict(r)
            rr["ts"] = rr["ts"].strftime("%Y-%m-%d %H:%M:%S")
            f.write(_json.dumps(rr) + "\n")
    seen = 0
    for trigger in range(3):
        r = engine.run_once()
        assert r.n_events == 100, (trigger, r.n_events)
        seen += r.n_events
        wm = {w.path: w for w in engine.watermarks.load().collect()}[path]
        assert wm.eof is (trigger == 2), trigger
        if trigger < 2:
            assert os.path.exists(path), "cleaned up before fully drained!"
    assert seen == 300
    assert engine.run_once().n_events == 0
    assert not os.path.exists(path)  # eof reached -> delete applied
    assert_matches_oracle(engine, rows)


def test_csv_comment_plus_header_plus_preamble(spark, tmp_path):
    """comment + header=True + rows_to_skip together: the header is the
    first non-comment line AFTER the preamble (Univocity order), and it
    is dropped even though no emitted line sits at byte offset 0."""
    from pyspark.sql import types as T

    os.makedirs(tmp_path / "src")
    with open(tmp_path / "src" / "a.csv", "w") as f:
        f.write("exported by legacy tool\n")        # preamble 1
        f.write("do not edit\n")                    # preamble 2
        f.write("# a comment before the header\n")  # comment
        f.write("conv_id,turn_idx,role,text,ts\n")  # header (must drop)
        f.write("c1,0,user,hi,2024-01-01 00:00:01\n")
        f.write("# trailing comment\n")
        f.write("c1,1,asst,yo,2024-01-01 00:00:02\n")
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    eng = IngestEngine(
        spark,
        IngestConfig(
            uris=[str(tmp_path / "src")], table_root=str(tmp_path / "t"),
            checkpoint_root=str(tmp_path / "c"), fmt="csv", schema=schema,
            n_buckets=2,
            reader_options={"rows_to_skip": 2, "header": True,
                            "csv_options": {"comment": "#"}},
        ),
    )
    res = eng.run_once()
    assert res.n_events == 2, res.n_events
    got = {(r.conv_id, r.turn_idx): r.text for r in eng.lake.read().collect()}
    assert got == {("c1", 0): "hi", ("c1", 1): "yo"}


# ----------------------------------------------- review-fix regressions (r3)


def test_strict_final_line_mode_bypasses_native_reader(spark, tmp_path):
    """emit_unterminated_final_line=False must hold back a torn final line
    even for offset-0 files — the native reader would emit it as a record
    and commit the offset past it, corrupting the record once completed."""
    engine = make_engine(spark, tmp_path, emit_unterminated_final_line=False)
    rows = transcript_change_events(4, 2)
    p = str(tmp_path / "src" / "a.jsonl")
    write_jsonl(rows[:-1], p)
    import json as _json

    last = dict(rows[-1])
    last["ts"] = last["ts"].strftime("%Y-%m-%d %H:%M:%S")
    line = _json.dumps(last)
    with open(p, "a") as f:
        f.write(line[: len(line) // 2])  # torn, no newline
    engine.run_once()
    assert len(table_state(engine)) == len(rows) - 1  # torn line held back
    with open(p, "a") as f:
        f.write(line[len(line) // 2 :] + "\n")  # complete it
    engine.run_once()
    assert_matches_oracle(engine, rows)  # exactly once, not as two fragments


def test_schemaless_jsonl_pins_inferred_schema_for_tails(spark, tmp_path):
    """schema=None: the first (native) batch pins the inferred schema so a
    later APPEND — which needs the offset-aware scanner — still works
    instead of stalling on 'requires an explicit schema'."""
    engine = make_engine(spark, tmp_path, schema=None)
    rows = transcript_change_events(6, 2)
    half = len(rows) // 2
    p = str(tmp_path / "src" / "grow.jsonl")
    write_jsonl(rows[:half], p)
    engine.run_once()
    append_jsonl(rows[half:], p)
    r2 = engine.run_once()  # scanner path now — must not raise
    assert r2.n_events == len(rows) - half
    assert_matches_oracle(engine, rows)


def test_bad_cleanup_config_fails_at_init(spark, tmp_path):
    with pytest.raises(ValueError):
        make_engine(spark, tmp_path, cleanup="mvoe")
    with pytest.raises(ValueError):
        make_engine(spark, tmp_path, src_dir="src2", cleanup="move")  # no dir


def test_config_drift_vs_existing_table_rejected(spark, tmp_path):
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(2, 2)
    write_jsonl(rows, str(tmp_path / "src" / "a.jsonl"))
    engine.run_once()
    with pytest.raises(ValueError, match="disagrees with the existing table"):
        make_engine(spark, tmp_path, keys=("session_id", "turn_idx"))
    with pytest.raises(ValueError, match="disagrees with the existing table"):
        make_engine(spark, tmp_path, n_buckets=99)


def test_truncation_onto_committed_offset_finishes_file(spark, tmp_path):
    """A file truncated EXACTLY to the committed offset (its held-back torn
    tail removed) owes nothing — it must become a cleanup candidate, not
    sit untracked in the listing forever."""
    engine = make_engine(
        spark, tmp_path, cleanup="delete", emit_unterminated_final_line=False
    )
    rows = transcript_change_events(3, 2)
    p = str(tmp_path / "src" / "a.jsonl")
    write_jsonl(rows, p)
    committed_size = os.path.getsize(p)
    with open(p, "a") as f:
        f.write('{"torn')  # held-back tail: eof stays False
    engine.run_once()
    wm = {w.path: w for w in engine.watermarks.load().collect()}[p]
    assert wm.eof is False and wm.committed_offset == committed_size
    os.truncate(p, committed_size)  # writer aborts the torn record
    engine.run_once()  # plans it as finished
    engine.run_once()  # cleanup applies on re-encounter semantics
    assert not os.path.exists(p)
    assert_matches_oracle(engine, rows)


def test_scanner_bookkeeping_columns_not_merged(spark, tmp_path):
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(3, 2)
    write_jsonl(rows, str(tmp_path / "src" / "a.jsonl"))
    engine.run_once()
    cols = set(engine.lake.read().columns)
    assert "_src_end" not in cols and "_line_no" not in cols
    # and the stored schema doesn't carry them either
    sch = engine.lake.current_schema().fieldNames()
    assert "_src_end" not in sch and "_line_no" not in sch


def test_merge_precommit_check_aborts_before_commit(spark, tmp_path):
    """A failing precommit_check leaves NO new commit — only vacuum-able
    orphan files — and a later clean merge proceeds normally."""
    from kafka_connect_fs_spark.plans.lake import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "pc"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=2,
    )
    from tests.test_lake import edf, ev

    t.merge(edf(spark, [ev("c1", 0, "ok", 1)]), "b1")
    v = t.latest_version()

    def boom():
        raise RuntimeError("consistency check failed")

    with pytest.raises(RuntimeError, match="consistency check"):
        t.merge(edf(spark, [ev("c2", 0, "never", 2)]), "b2", precommit_check=boom)
    assert t.latest_version() == v  # nothing committed
    assert {r.conv_id for r in t.read().collect()} == {"c1"}
    t.merge(edf(spark, [ev("c2", 0, "now", 3)]), "b3")
    assert {r.conv_id for r in t.read().collect()} == {"c1", "c2"}


def _wm_row(path, off=10):
    return {"path": path, "committed_offset": off, "file_size": off, "eof": True}


def _offsets_view(spark, root, stream="ingest-"):
    from kafka_connect_fs_spark.plans.lake import LakeTable
    from kafka_connect_fs_spark.sources.watermarks import WatermarkStore

    lake = (LakeTable(spark, root) if LakeTable.exists(root) else
            LakeTable.create(spark, root, keys=["conv_id", "turn_idx"], ts_col="ts"))
    return WatermarkStore(lake, stream)


def test_watermark_delta_log_commit_is_o_touched(spark, tmp_path):
    """An offsets commit costs O(files touched this batch), independent of
    the tracked-file count: with 20k tracked paths, a 500-file commit's log
    entry holds only those 500 entries, byte for byte the size of the same
    commit over 1k tracked paths (a full-state rewrite per commit cost
    0.22 s/batch at 200k files), and the state refresh after a commit
    updates the tracked map in place instead of copying it."""
    import json as _json

    sizes = {}
    for n_tracked in (1_000, 20_000):
        store = _offsets_view(spark, str(tmp_path / f"t{n_tracked}"))
        store.commit([_wm_row(f"/data/f{i:06d}") for i in range(n_tracked)], 0)
        c = store.commit([_wm_row(f"/data/f{i:06d}", off=21) for i in range(500)], 1)
        entry = store.lake._log_path(c.version)
        assert len(_json.load(open(entry))["app_metadata"]["watermarks"]) == 500
        sizes[n_tracked] = os.path.getsize(entry)
        assert len(store.load_dict()) == n_tracked
        assert store.load_dict()["/data/f000499"]["committed_offset"] == 21
        # the commit folds into the tracked map in place: no per-commit copy
        files = store.load_dict()
        store.commit([_wm_row("/data/f000000", off=22)], 2, removed_paths=["/data/f000001"])
        assert store.load_dict() is files and len(files) == n_tracked - 1
    assert sizes[1_000] == sizes[20_000]


def test_watermark_delta_log_removals_replay(spark, tmp_path):
    """Removals survive a cold replay of the log, and a removal+re-add in
    later batches resolves to the re-add."""
    root = str(tmp_path / "t")
    store = _offsets_view(spark, root)
    store.commit([_wm_row("/x/a"), _wm_row("/x/b"), _wm_row("/x/c")], 0)
    store.commit([], 1, removed_paths=["/x/b"])
    store.commit([_wm_row("/x/b", off=99)], 2)
    store.commit([], 3, removed_paths=["/x/c"])
    expect = {"/x/a": 10, "/x/b": 99}
    live = {p: r["committed_offset"] for p, r in store.load_dict().items()}
    assert live == expect
    fresh = _offsets_view(spark, root)
    assert {p: r["committed_offset"] for p, r in fresh.load_dict().items()} == expect
    assert fresh.last_seq() == 3
    # Spark lineage view agrees
    assert {r.path: r.committed_offset for r in fresh.load().collect()} == expect


def _write_old_store(root, seq, rows, deltas=()):
    """A checkpoint's ``watermarks`` directory as older builds wrote it.
    Without ``deltas``: one marker without base_seq plus its snapshot
    directory (the first layout). With ``deltas`` ([(seq, rows, removed
    paths)]): a base snapshot at ``seq`` plus a delta chain."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = [("path", pa.string()), ("committed_offset", pa.int64()),
            ("file_size", pa.int64()), ("eof", pa.bool_()),
            ("batch_seq", pa.int64()), ("updated_at", pa.timestamp("us"))]

    def table(rs, removed=None):
        rs = [dict(r, batch_seq=seq, updated_at=None) for r in rs]
        if removed is None:
            return pa.Table.from_pylist(rs, schema=pa.schema(cols))
        rs = [dict(_wm_row(p, 0), batch_seq=seq, updated_at=None, removed=True)
              for p in removed] + [dict(r, removed=False) for r in rs]
        return pa.Table.from_pylist(rs, schema=pa.schema(cols + [("removed", pa.bool_())]))

    os.makedirs(os.path.join(root, f"v{seq:012d}"))
    pq.write_table(table(rows), os.path.join(root, f"v{seq:012d}", "snapshot.parquet"))
    marker = {"batch_seq": seq, "n_updates": len(rows)}
    if deltas:
        marker = dict(marker, base_seq=seq, delta_seqs=[d for d, _, _ in deltas])
        for d, rs, removed in deltas:
            pq.write_table(table(rs, removed), os.path.join(root, f"d{d:012d}.parquet"))
            marker["batch_seq"] = d
    with open(os.path.join(root, f"v{marker['batch_seq']:012d}.json"), "w") as f:
        _json.dump(marker, f)


def _committed(path):
    size = os.path.getsize(path)
    return {"path": path, "committed_offset": size, "file_size": size, "eof": True}


def test_watermark_old_layout_migration(spark, tmp_path):
    """An engine opened on a checkpoint whose offsets sit in the first
    store layout (a marker without base_seq plus a snapshot directory)
    imports them in one commit and resumes without re-reading; the old
    directory stays on disk and is imported only once."""
    rows = transcript_change_events(6, 2, seed=21)
    half = len(rows) // 2
    p = str(tmp_path / "src" / "a.jsonl")
    os.makedirs(tmp_path / "src")
    write_jsonl(rows[:half], p)
    old = str(tmp_path / "ckpt" / "watermarks")
    _write_old_store(old, 3, [_committed(p)])
    engine = make_engine(spark, tmp_path)
    assert engine.lake.latest_version() == 0  # the import commit
    assert engine.watermarks.last_seq() == 4 and os.path.isdir(old)
    assert engine.watermarks.load_dict()[p]["committed_offset"] == os.path.getsize(p)
    assert engine.run_once().n_events == 0  # already consumed: not re-read
    append_jsonl(rows[half:], p)
    assert engine.run_once().n_events == len(rows) - half  # only the tail
    make_engine(spark, tmp_path)  # reopen: no second import
    assert engine.lake.latest_version() == 1


def test_watermark_delta_log_layout_import(spark, tmp_path):
    """The delta-chain layout (base snapshot, deltas with tombstones)
    imports to its replayed state: a removed path is gone, a re-added one
    keeps its newest offset, and the engine resumes from there."""
    os.makedirs(tmp_path / "src")
    paths = [str(tmp_path / "src" / f"{n}.jsonl") for n in "abc"]
    rows = transcript_change_events(9, 2, seed=22)
    for i, p in enumerate(paths):
        write_jsonl(rows[i::3], p)
    a, b, c = (_committed(p) for p in paths)
    gone = _wm_row(str(tmp_path / "src" / "gone.jsonl"))
    _write_old_store(
        str(tmp_path / "ckpt" / "watermarks"), 0, [a, dict(b, committed_offset=1), gone],
        deltas=[(1, [], [a["path"]]), (2, [a, b], []), (3, [c], [c["path"]]),
                (4, [], [gone["path"]])],
    )
    engine = make_engine(spark, tmp_path)
    assert engine.watermarks.load_dict() == {
        w["path"]: {k: w[k] for k in ("committed_offset", "file_size", "eof")}
        for w in (a, b, c)
    }
    assert engine.watermarks.last_seq() == 5
    assert engine.run_once().n_events == 0


def test_lake_with_pre_offsets_checkpoint_opens_and_ingests(spark, tmp_path):
    """A lake whose newest checkpoint predates offsets in the log (no
    ``streams``) and whose old store missed the last merge's offsets (a
    crash between the two commits): the import takes the store's state
    and puts that merge's offsets on top, so nothing is read twice."""
    import json as _json

    rows = transcript_change_events(8, 2, seed=23)
    q = len(rows) // 4
    p = str(tmp_path / "src" / "a.jsonl")
    engine = make_engine(spark, tmp_path)
    engine.lake._ckpt_every = 2
    write_jsonl(rows[:q], p)
    engine.run_once()
    sizes = []
    for part in (rows[q:2 * q], rows[2 * q:3 * q]):
        append_jsonl(part, p)
        engine.run_once()
        sizes.append(os.path.getsize(p))
    log = tmp_path / "table" / "_log"
    for n in os.listdir(log):
        if n.endswith(".ckpt.json"):
            raw = _json.loads((log / n).read_text())
            del raw["streams"]
            (log / n).write_text(_json.dumps(raw))
    # the old store committed seqs 0 and 1; the merge of seq 2 landed
    # without its store commit
    _write_old_store(str(tmp_path / "ckpt" / "watermarks"), 1,
                     [dict(_committed(p), committed_offset=sizes[0], file_size=sizes[0])])
    fresh = make_engine(spark, tmp_path)
    assert fresh.watermarks.load_dict()[p]["committed_offset"] == os.path.getsize(p)
    assert fresh.watermarks.last_seq() == 3
    assert fresh.run_once().n_events == 0
    append_jsonl(rows[3 * q:], p)
    assert fresh.run_once().n_events == len(rows) - 3 * q
    assert_matches_oracle(fresh, rows)


# ------------------------------------------- one Spark pass per tail batch


def _jobs_in_group(spark, group: str) -> int:
    import time

    time.sleep(1.0)  # the status store is fed by an asynchronous listener
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_tail_batch_runs_only_the_merge_jobs(spark, tmp_path):
    """A tail batch (offset > 0, no compaction) is one Spark pass: the
    merge's data write runs the scanner and the offsets come back from it.
    Every job of run_once belongs to the merge, so a change that adds a
    stats pass, a count or a consistency re-scan fails here."""
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(8, 4, seed=3)
    half = len(rows) // 2
    paths = [str(tmp_path / "src" / f"{n}.jsonl") for n in "ab"]
    for p, part in zip(paths, (rows[:half:2], rows[1:half:2])):
        write_jsonl(part, p)
    engine.run_once()
    for p, part in zip(paths, (rows[half::2], rows[half + 1 :: 2])):
        append_jsonl(part, p)

    sc = spark.sparkContext
    real_merge = engine.lake.merge

    def merge_in_own_group(*a, **kw):
        sc.setLocalProperty("spark.jobGroup.id", "tail-batch-merge")
        try:
            return real_merge(*a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", "tail-batch")

    engine.lake.merge = merge_in_own_group
    sc.setLocalProperty("spark.jobGroup.id", "tail-batch")
    try:
        res = engine.run_once()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.n_events == len(rows) - half and res.quarantined == 0
    assert res.ranges == {"ok": 2, "partial": 0, "failed": 0}
    assert _jobs_in_group(spark, "tail-batch") == 0  # nothing outside the merge
    assert 1 <= _jobs_in_group(spark, "tail-batch-merge") <= 2
    assert_matches_oracle(engine, rows)


def test_fold_outcomes_collapses_duplicates_and_rejects_conflicts():
    from kafka_connect_fs_spark.sources.readers import (
        RANGE_FAILED,
        RANGE_OK,
        RangeOutcome,
    )
    from kafka_connect_fs_spark.streaming.engine import fold_outcomes

    a = RangeOutcome("/f", 0, 10, RANGE_OK, 2)
    b = RangeOutcome("/f", 10, 20, RANGE_OK, 1)
    # a re-executed task re-adds its updates
    assert fold_outcomes([a, b, a, a]) == {("/f", 0): a, ("/f", 10): b}
    with pytest.raises(RuntimeError, match="two outcomes"):
        fold_outcomes([a, RangeOutcome("/f", 0, 0, RANGE_FAILED, 0)])


def test_conflicting_range_outcomes_abort_before_commit(spark, tmp_path, monkeypatch):
    """Two different outcomes for one range (a re-executed scan task saw
    other bytes) abort the batch after the data write and before the
    commit: no new lake version, watermarks unchanged; the replay is clean."""
    from kafka_connect_fs_spark.sources.readers import RANGE_OK, RangeOutcome

    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(5, 4, seed=5)
    half = len(rows) // 2
    p = str(tmp_path / "src" / "a.jsonl")
    write_jsonl(rows[:half], p)
    engine.run_once()
    append_jsonl(rows[half:], p)
    version, wm = engine.lake.latest_version(), engine.watermarks.load_dict()
    start = wm[p]["committed_offset"]

    real_read = engine._read

    def seeded_read(work, outcomes):
        outcomes.add([RangeOutcome(p, start, start + 1, RANGE_OK, 1)])
        return real_read(work, outcomes)

    monkeypatch.setattr(engine, "_read", seeded_read)
    with pytest.raises(RuntimeError, match="two outcomes"):
        engine.run_once()
    assert engine.lake.latest_version() == version
    assert engine.watermarks.load_dict() == wm
    monkeypatch.setattr(engine, "_read", real_read)
    assert engine.run_once().n_events == len(rows) - half
    assert_matches_oracle(engine, rows)


def test_already_committed_batch_commits_its_own_watermarks(spark, tmp_path):
    """When merge hands back a batch another run already committed (replay
    or split-brain guard), the engine commits the watermarks stored in that
    commit, not the ones its own scan would have produced."""
    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(4, 2, seed=9)
    p = str(tmp_path / "src" / "a.jsonl")
    write_jsonl(rows, p)
    theirs = [{"path": p, "committed_offset": 7, "file_size": 7, "eof": False}]
    real_merge = engine.lake.merge

    def racing_merge(events, batch_id=None, **kw):
        real_merge(events, batch_id=batch_id,
                   app_metadata={"watermarks": theirs, "cleanup": []})
        return real_merge(events, batch_id=batch_id, **kw)

    engine.lake.merge = racing_merge
    res = engine.run_once()
    assert res.recovered and res.n_events == 0
    assert engine.watermarks.load_dict()[p]["committed_offset"] == 7


def test_fully_quarantined_batch_completes_in_one_trigger(spark, tmp_path):
    """An offset-0 file whose every record lacks a key: the batch commits,
    counts its records as seen and quarantined, and finishes the file."""
    import json

    rules = "spark.sql.adaptive.optimizer.excludedRules"
    session_rules = spark.conf.get(rules, None)
    engine = make_engine(spark, tmp_path)
    p = str(tmp_path / "src" / "nokeys.jsonl")
    with open(p, "w") as f:
        for i in range(5):
            f.write(json.dumps({"turn_idx": i, "ts": "2024-01-01 00:00:00"}) + "\n")
    res = engine.run_once()
    # the merge plans without AQE's empty-relation rule; the session does not
    assert spark.conf.get(rules, None) == session_rules
    assert (res.n_events, res.quarantined, res.rows_written) == (5, 5, 0)
    assert not res.recovered
    rec = [json.loads(l) for l in open(tmp_path / "ckpt" / "metrics.jsonl")][-1]
    assert rec["n_events"] == 5 and rec["quarantined"] == 5
    assert engine.watermarks.load_dict()[p]["eof"] is True
    assert engine.run_once().n_files == 0


def test_outcome_channel_does_not_grow_with_batches(spark, tmp_path):
    """One outcome accumulator per engine, emptied per batch: PySpark keeps
    every driver-side accumulator for the life of the process, so one per
    batch would grow the driver with the batch count."""
    from pyspark.accumulators import _accumulatorRegistry

    engine = make_engine(spark, tmp_path)
    rows = transcript_change_events(6, 4, seed=11)
    parts = [rows[i::5] for i in range(5)]
    p = str(tmp_path / "src" / "a.jsonl")
    write_jsonl(parts[0], p)
    engine.run_once()
    registered = len(_accumulatorRegistry)
    for part in parts[1:]:
        append_jsonl(part, p)
        res = engine.run_once()
        assert len(_accumulatorRegistry) == registered
        assert res.ranges == {"ok": 1, "partial": 0, "failed": 0}
        assert len(engine._outcomes.value) == 1  # this batch's range only
    assert_matches_oracle(engine, rows)


def test_record_without_op_reads_as_upsert(spark, tmp_path):
    """A change event with no "op" is an upsert: merge stores it as one,
    so every read path and an MV built on the table return it, as the
    package oracle (expected_final_state) keeps it."""
    import json

    from pyspark.sql import functions as F

    from kafka_connect_fs_spark.plans.materialized import IncrementalRollup

    engine = make_engine(spark, tmp_path)
    lines = [
        {"op": "upsert", "conv_id": "c1", "turn_idx": 0, "role": "user",
         "text": "with op", "tool": None, "ts": "2024-01-01T00:00:00.000Z"},
        {"conv_id": "c2", "turn_idx": 0, "role": "user",
         "text": "no op", "tool": None, "ts": "2024-01-01T00:00:01.000Z"},
    ]
    with open(tmp_path / "src" / "a.jsonl", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in lines)
    assert engine.run_once().n_events == 2
    lake = engine.lake
    assert {r.op for r in lake.read_changes(-1).collect()} == {"upsert"}
    assert {r.text for r in lake.read().collect()} == {"with op", "no op"}
    assert [r.text for r in lake.read_key("c2").collect()] == ["no op"]
    ranged = lake.read_range("2024-01-01 00:00:01", "2024-01-01 00:00:02")
    assert [r.text for r in ranged.collect()] == ["no op"]
    mv = IncrementalRollup(lake, str(tmp_path / "mv"), group_cols=["conv_id"],
                           aggs={"n": F.count(F.lit(1))}, n_buckets=4)
    mv.refresh()
    assert {(r.conv_id, r.n) for r in mv.read().collect()} == {("c1", 1), ("c2", 1)}


# ------------------------------------------- one durable log: crash boundaries


def _crash(engine, boundary, monkeypatch):
    """Make the engine's next batch raise at ``boundary``."""
    def boom(*a, **kw):
        raise RuntimeError(f"simulated crash: {boundary}")

    if boundary == "precommit_check":  # data written, commit not visible
        monkeypatch.setattr(engine, "_watermark_updates", boom)
    elif boundary == "after_commit":  # before any cleanup
        monkeypatch.setattr(engine, "_cleanup", boom)
    elif boundary == "during_cleanup":  # the first file cleaned, not the second
        real = engine._cleanup_one
        done = []

        def one_then_crash(p, mode):
            if done:
                boom()
            done.append(p)
            real(p, mode)

        monkeypatch.setattr(engine, "_cleanup_one", one_then_crash)
    else:  # after_cleanup: every file cleaned, the next commit not written
        real_cleanup = engine._cleanup

        def clean_then_crash(paths):
            real_cleanup(paths)
            boom()

        monkeypatch.setattr(engine, "_cleanup", clean_then_crash)


@pytest.mark.parametrize(
    "boundary", ["precommit_check", "after_commit", "during_cleanup", "after_cleanup"]
)
def test_crash_at_commit_boundary_then_restart(spark, tmp_path, monkeypatch, boundary):
    """A batch with work and two finished files to delete crashes at each
    boundary of the one-commit protocol; a fresh engine on the same roots
    then matches the LWW oracle, re-reads only bytes no commit holds, and
    forgets the cleaned files' offsets within one more trigger."""
    rows = transcript_change_events(9, 3, seed=31)
    engine = make_engine(spark, tmp_path, cleanup="delete")
    done = [str(tmp_path / "src" / f"{n}.jsonl") for n in "ab"]
    for i, p in enumerate(done):
        write_jsonl(rows[i::3], p)
    engine.run_once()  # a, b consumed to eof
    new = str(tmp_path / "src" / "c.jsonl")
    write_jsonl(rows[2::3], new)
    _crash(engine, boundary, monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        engine.run_once()  # work: c; cleanup: a, b
    monkeypatch.undo()

    engine = make_engine(spark, tmp_path, cleanup="delete")
    committed = {p: w["committed_offset"] for p, w in engine.watermarks.load_dict().items()}
    read = []
    real_read = engine._read
    monkeypatch.setattr(
        engine, "_read", lambda work, acc: read.extend(work) or real_read(work, acc)
    )
    engine.run_once()
    assert all(w.start_offset >= committed.get(w.path, 0) for w in read)
    assert [w.path for w in read] == ([new] if boundary == "precommit_check" else [])
    assert_matches_oracle(engine, rows)
    engine.run_once()  # one more trigger
    assert not any(os.path.exists(p) for p in done)
    assert not set(done) & set(engine.watermarks.load_dict())
    assert_matches_oracle(engine, rows)


def _log_entries(engine) -> int:
    return len(engine.lake._list_commit_names())


@pytest.mark.parametrize("cleanup", ["none", "delete"])
def test_batch_with_work_is_one_commit_and_idle_writes_nothing(spark, tmp_path, cleanup):
    """A batch with work adds exactly one log entry, whose app_metadata
    carries the batch's offsets, and nothing under the checkpoint's old
    store directory. Once settled, idle triggers write nothing."""
    engine = make_engine(spark, tmp_path, cleanup=cleanup)
    rows = transcript_change_events(6, 2, seed=32)
    a, b = (str(tmp_path / "src" / f"{n}.jsonl") for n in "ab")
    write_jsonl(rows[::2], a)
    engine.run_once()
    write_jsonl(rows[1::2], b)  # work: b; finished: a
    before = _log_entries(engine)
    engine.run_once()
    assert _log_entries(engine) == before + 1
    md = engine.lake.commits()[-1].app_metadata
    assert [w["path"] for w in md["watermarks"]] == [b]
    # with cleanup="none" a finished file is never a cleanup candidate, so
    # commits do not grow with the count of finished files
    assert md["cleanup"] == ([] if cleanup == "none" else [a])
    assert not (tmp_path / "ckpt" / "watermarks").exists()
    for _ in range(2):  # settle: delete b, forget a then b (delete)
        engine.run_once()
    assert set(engine.watermarks.load_dict()) == ({a, b} if cleanup == "none" else set())
    settled = engine.lake.latest_version()
    for _ in range(3):
        assert engine.run_once().n_files == 0
    assert engine.lake.latest_version() == settled
    assert_matches_oracle(engine, rows)


def test_rename_retries_when_a_compaction_lands_first(spark, tmp_path):
    """A maintenance compaction that commits between a rename's state read
    and its write moves the rename to the next version; the engine batch
    that triggered the rename succeeds."""
    import json as _json

    from pyspark.sql import types as T

    from kafka_connect_fs_spark.plans.lake import LakeTable

    engine = make_engine(spark, tmp_path, rename_hints={"tool": "tool_name"})
    rows = transcript_change_events(4, 2, seed=33)
    write_jsonl(rows, str(tmp_path / "src" / "a.jsonl"))
    engine.run_once()
    with open(tmp_path / "src" / "b.jsonl", "w") as f:
        f.write(_json.dumps({"op": "upsert", "conv_id": "new", "turn_idx": 0,
                             "role": "user", "text": "t", "tool_name": "x",
                             "ts": "2031-01-01T00:00:00"}) + "\n")
    engine.config.schema = T.StructType(
        [f for f in CHANGE_EVENT_SCHEMA.fields if f.name != "tool"]
    ).add("tool_name", T.StringType())

    real_write = engine.lake._write_commit
    raced = []

    def compaction_lands_first(commit):
        if commit.renames and not raced:
            raced.append(LakeTable(spark, str(tmp_path / "table")).compact(1).version)
        return real_write(commit)

    engine.lake._write_commit = compaction_lands_first
    res = engine.run_once()
    rename = next(c for c in engine.lake.commits() if c.renames)
    assert rename.version == raced[0] + 1 and rename.metrics["commit_retries"] == 1
    assert res.n_events == 1
    got = {r.conv_id: r.tool_name for r in engine.lake.read().collect()}
    assert got["new"] == "x" and len(got) == len({r["conv_id"] for r in rows}) + 1


@pytest.mark.parametrize(
    "restart,same_size",
    [(False, False), (True, False), (True, True)],
    ids=["same_engine", "restart", "restart_same_size"],
)
def test_file_recreated_after_cleanup_is_read_from_zero(spark, tmp_path, restart, same_size):
    """A deleted file's offsets are dropped by the commit after its
    cleanup. A new file written under the same name before that commit is
    a new file: it is read from byte 0, not tailed from the old offset.
    After a restart, the fresh engine finishes the last commit's cleanup
    only on files that are still the finished ones, so the recreated file
    is left alone and read, even when it has the old size."""
    engine = make_engine(spark, tmp_path, cleanup="delete")
    rows = transcript_change_events(8, 2, seed=34)
    p = str(tmp_path / "src" / "rot.jsonl")
    write_jsonl(rows[:4], p)
    old_size = os.path.getsize(p)
    engine.run_once()  # read to eof
    engine.run_once()  # finished: named in a commit's cleanup, then deleted
    assert not os.path.exists(p) and p in engine.watermarks.load_dict()
    assert engine.watermarks.pending_cleanup() == [p]
    new = [dict(r) for r in (rows[4:8] if same_size else rows[4:])]
    write_jsonl(new, p)  # recreated under the same name
    if same_size:
        d = old_size - os.path.getsize(p)
        text = new[-1]["text"]
        new[-1]["text"] = text[: len(text) + min(d, 0)] + "x" * max(d, 0)
        write_jsonl(new, p)
        assert os.path.getsize(p) == old_size
    if restart:
        engine = make_engine(spark, tmp_path, cleanup="delete")
        assert os.path.exists(p)
    assert engine.run_once().n_events == len(new)
    assert_matches_oracle(engine, rows[:4] + new)
    engine.run_once()  # now finished: cleaned by the regular path
    assert not os.path.exists(p)
