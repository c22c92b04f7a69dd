"""LakeTable: transactional MERGE, LWW, deletes, idempotent replay, evolution.

Mirrors the exactly-once-resume contract of the reference task suite
(FsSourceTaskTest.java:260-271 — files whose committed offset equals size are
never re-emitted) at the *table* level: re-merging an already-committed
batch_id is a no-op.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_fs_spark.operators.lww import lww_dedup
from kafka_connect_fs_spark.plans.lake import LakeTable

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("op", T.StringType()),
        T.StructField("_src_file", T.StringType()),
        T.StructField("_src_offset", T.LongType()),
    ]
)


def ts(i: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def ev(conv, turn, text, t, op="upsert", src="f0", off=0):
    return Row(
        conv_id=conv, turn_idx=turn, role="user", text=text, tool=None,
        ts=ts(t), op=op, _src_file=src, _src_offset=off,
    )


def edf(spark, rows):
    return spark.createDataFrame(rows, EVENT_SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "t"), keys=["conv_id", "turn_idx"], ts_col="ts",
        n_buckets=4,
    )


def test_lww_dedup_keeps_max_ts_with_deterministic_tiebreak(spark):
    df = edf(
        spark,
        [
            ev("c1", 0, "old", 1),
            ev("c1", 0, "new", 5),
            ev("c1", 0, "tie-a", 7, src="a", off=1),
            ev("c1", 0, "tie-b", 7, src="b", off=2),
            ev("c2", 3, "only", 2),
        ]
    )
    out = {
        (r.conv_id, r.turn_idx): r.text
        for r in lww_dedup(df, ["conv_id", "turn_idx"]).collect()
    }
    assert out == {("c1", 0): "tie-b", ("c2", 3): "only"}


def test_lww_plan_has_partial_aggregation(spark):
    """Skew guard: the physical plan must partial-aggregate map-side."""
    df = edf(spark, [ev("c1", 0, "x", 1)])
    plan = lww_dedup(df, ["conv_id", "turn_idx"])._jdf.queryExecution().executedPlan().toString()
    # partial_max_by before the Exchange = map-side combine (skew-resistant)
    assert "partial_max_by" in plan and "Exchange" in plan
    assert plan.index("partial_max_by") > plan.index("Exchange")  # plan prints top-down


def test_merge_upsert_and_read(spark, table):
    table.merge(edf(spark, [ev("c1", 0, "hello", 1), ev("c1", 1, "world", 2)]), "b1")
    table.merge(edf(spark, [ev("c1", 1, "world-v2", 9), ev("c2", 0, "new", 3)]), "b2")
    rows = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
    assert rows == {("c1", 0): "hello", ("c1", 1): "world-v2", ("c2", 0): "new"}


def test_merge_stale_update_loses(spark, table):
    table.merge(edf(spark, [ev("c1", 0, "current", 10)]), "b1")
    table.merge(edf(spark, [ev("c1", 0, "stale", 5)]), "b2")
    assert table.read().collect()[0].text == "current"


def test_merge_replay_same_batch_id_is_noop(spark, table):
    c1 = table.merge(edf(spark, [ev("c1", 0, "v1", 1)]), "batch-1")
    c2 = table.merge(edf(spark, [ev("c1", 0, "SHOULD-NOT-APPLY", 99)]), "batch-1")
    assert c1.version == c2.version
    assert table.read().collect()[0].text == "v1"


def test_merge_delete(spark, table):
    table.merge(edf(spark, [ev("c1", 0, "a", 1), ev("c1", 1, "b", 1)]), "b1")
    table.merge(edf(spark, [ev("c1", 0, "", 5, op="delete")]), "b2")
    rows = table.read().collect()
    assert [(r.conv_id, r.turn_idx) for r in rows] == [("c1", 1)]


def test_merge_only_rewrites_affected_buckets(spark, table):
    table.merge(
        edf(spark, [ev(f"c{i}", 0, f"t{i}", 1) for i in range(50)]), "b1"
    )
    c = table.merge(edf(spark, [ev("c1", 0, "upd", 9)]), "b2")
    assert c.metrics["affected_buckets"] == 1
    assert c.metrics["files_removed"] <= 1
    live_rows = {r.conv_id: r.text for r in table.read().collect()}
    assert live_rows["c1"] == "upd" and live_rows["c7"] == "t7" and len(live_rows) == 50


def test_schema_evolution_add_column(spark, table):
    table.merge(edf(spark, [ev("c1", 0, "a", 1)]), "b1")
    with_extra = edf(spark, [ev("c2", 0, "b", 2)]).withColumn(
        "quality", F.lit(0.9)
    )
    table.merge(with_extra, "b2")
    df = table.read()
    assert "quality" in df.columns
    got = {r.conv_id: r.quality for r in df.collect()}
    assert got["c1"] is None and got["c2"] == pytest.approx(0.9)


def test_schema_evolution_rename_column(spark, table):
    table.merge(edf(spark, [ev("c1", 0, "a", 1)]), "b1")
    table.rename_column("tool", "tool_name")
    df = table.read()
    assert "tool_name" in df.columns and "tool" not in df.columns
    # merge after rename still works (new batches use the new name)
    src = edf(spark, [ev("c2", 0, "b", 2)]).withColumnRenamed("tool", "tool_name")
    table.merge(src, "b2")
    assert table.read().count() == 2


def test_rename_then_merge_keeps_one_column_and_idle_poll_schema(spark, table):
    """After a rename and a merge under the new name, the committed schema
    names the column once (the log holds both physical names; they fold),
    and an idle change poll has exactly the columns of a non-empty one."""
    table.merge(edf(spark, [ev("c1", 0, "a", 1)]), "b1")
    table.rename_column("tool", "tool_name")
    src = edf(spark, [ev("c2", 0, "b", 2)]).withColumnRenamed("tool", "tool_name")
    table.merge(src, "b2")
    names = table.current_schema().fieldNames()
    assert names.count("tool_name") == 1 and "tool" not in names
    idle = table.read_changes(table.latest_version())
    assert idle.collect() == []
    assert idle.dtypes == table.read_changes(0).dtypes


def test_rename_then_rewrites_keep_the_renamed_values(spark, table):
    """A rewrite after a rename writes the column under its new name and
    commits no schema; compaction, a bucket-spec migration and tombstone
    expiry must all still read that column's values, with no merge under
    the new name in between."""
    def tooled(rows):
        return edf(spark, rows).withColumn("tool", F.concat(F.lit("t-"), "conv_id"))

    table.merge(
        tooled([ev(f"c{i}", 0, "v1", i) for i in range(8)]
               + [ev("gone", 0, "x", 1, op="delete")]),
        "b1",
    )
    table.merge(tooled([ev(f"c{i}", 0, "v2", 50 + i) for i in range(4)]), "b2")
    table.rename_column("tool", "tool_name")
    want = {f"c{i}": f"t-c{i}" for i in range(8)}

    def check():
        got = {r.conv_id: r.tool_name for r in table.read().collect()}
        assert got == want
        assert [r.tool_name for r in table.read_key("c2").collect()] == ["t-c2"]
        assert table.current_schema().fieldNames().count("tool_name") == 1

    assert table.compact(min_files_per_bucket=1) is not None
    check()
    table.set_n_buckets(3)
    assert table.compact(min_files_per_bucket=99) is not None  # migration
    check()
    assert table.expire_tombstones(ts(100)) is not None
    check()
    assert table.snapshot().filter("tool_name IS NULL").count() == 0


def test_vacuum_removes_dead_files(spark, table):
    table.merge(edf(spark, [ev("c1", 0, "a", 1)]), "b1")
    table.merge(edf(spark, [ev("c1", 0, "b", 2)]), "b2")
    table.compact()  # the folded deltas become dead files
    assert table.vacuum(min_age_seconds=0) >= 1
    assert table.read().collect()[0].text == "b"


def test_delete_tombstone_blocks_older_upsert_resurrection(spark, table):
    """An upsert REPLAYED AFTER a delete but carrying an OLDER ts must not
    resurrect the key — deletes persist as tombstones that keep winning LWW."""
    table.merge(edf(spark, [ev("c1", 0, "killed", 10, op="delete")]), "b1")
    table.merge(edf(spark, [ev("c1", 0, "zombie", 5)]), "b2")  # older ts
    assert table.read().where("conv_id = 'c1'").count() == 0
    # but a genuinely NEWER upsert does revive the key
    table.merge(edf(spark, [ev("c1", 0, "reborn", 20)]), "b3")
    assert table.read().collect()[0].text == "reborn"


def test_compact_rewrites_buckets(spark, table):
    # each merge adds one delta file per touched bucket; different convs
    # land in different buckets across commits
    for i in range(6):
        table.merge(edf(spark, [ev(f"c{i}", 0, f"t{i}", i + 1)]), f"b{i}")
    before = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
    c = table.compact(min_files_per_bucket=1)
    assert c is not None and c.metrics["compaction"]
    after = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
    assert after == before  # logical content unchanged
    live, _, _ = table._state()
    buckets = {}
    for a in live.values():
        buckets[a["bucket"]] = buckets.get(a["bucket"], 0) + 1
    assert all(n == 1 for n in buckets.values())
    # idempotent-ish: nothing left above the threshold afterwards
    assert table.compact(min_files_per_bucket=2) is None


def test_expire_tombstones(spark, table):
    table.merge(edf(spark, [ev("c1", 0, "x", 1, op="delete"), ev("c2", 0, "keep", 2)]), "b1")
    assert table.snapshot().filter("op = 'delete'").count() == 1
    c = table.expire_tombstones(ts(100))
    assert c is not None
    assert table.snapshot().filter("op = 'delete'").count() == 0
    assert {r.conv_id for r in table.read().collect()} == {"c2"}


def test_concurrent_commit_conflict_detected(spark, table):
    """Two writers racing to the same log version: exactly one wins the
    O_EXCL create; the loser gets ConcurrentCommitError (single-writer
    engine; the primitive is what Delta/Iceberg use on object stores)."""
    from kafka_connect_fs_spark.plans.lake import Commit, ConcurrentCommitError

    table.merge(edf(spark, [ev("c1", 0, "a", 1)]), "b1")
    v = table.latest_version() + 1
    c = Commit(version=v, batch_id="race-1", added=[], removed=[], schema_json=None)
    table._write_commit(c)
    dup = Commit(version=v, batch_id="race-2", added=[], removed=[], schema_json=None)
    with pytest.raises(ConcurrentCommitError):
        table._write_commit(dup)


def test_time_travel_reads_past_versions(spark, table):
    c1 = table.merge(edf(spark, [ev("c1", 0, "v1", 1)]), "b1")
    c2 = table.merge(edf(spark, [ev("c1", 0, "v2", 2), ev("c2", 0, "x", 2)]), "b2")
    assert table.read(at_version=c1.version).collect()[0].text == "v1"
    now = {(r.conv_id, r.turn_idx): r.text for r in table.read(at_version=c2.version).collect()}
    assert now == {("c1", 0): "v2", ("c2", 0): "x"}
    assert table.read().count() == 2  # latest unchanged


def test_read_key_bucket_pruned_point_lookup(spark, table):
    table.merge(edf(spark, [ev(f"c{i}", t, f"{i}:{t}", 1) for i in range(20) for t in range(2)]), "b1")
    out = table.read_key("c7").orderBy("turn_idx").collect()
    assert [(r.conv_id, r.turn_idx, r.text) for r in out] == [
        ("c7", 0, "7:0"), ("c7", 1, "7:1"),
    ]
    assert table.read_key("no_such_conv").count() == 0


def test_xxhash64_parity(spark):
    """Driver-side xxhash64 twin must equal Spark's F.xxhash64 (seed 42)
    for strings and longs — read_key's bucket pruning depends on it."""
    from kafka_connect_fs_spark.functions.hashing import spark_xxhash64

    strs = ["", "a", "conv-000123", "x" * 31, "y" * 32, "z" * 100, "héllo ✓"]
    ints = [0, 1, -1, 42, 2**62, -(2**62)]
    got_s = spark.createDataFrame([(s,) for s in strs], "s string").select(
        "s", F.xxhash64("s").alias("h")
    ).collect()
    assert all(spark_xxhash64(r.s) == r.h for r in got_s)
    got_i = spark.createDataFrame([(i,) for i in ints], "i long").select(
        "i", F.xxhash64("i").alias("h")
    ).collect()
    assert all(spark_xxhash64(r.i) == r.h for r in got_i)


# ------------------------------------------------------------- merge-on-read


def test_mor_merge_never_rewrites_prior_files(spark, table):
    """The 100x-scale contract: a steady-state batch appends a delta and
    touches NOTHING that exists — write amplification is O(batch), not
    O(table)."""
    t = table
    t.merge(edf(spark, [ev(f"c{i}", 0, f"t{i}", 1) for i in range(50)]), "b1")
    before, _, _ = t._state()
    c = t.merge(edf(spark, [ev("c1", 0, "upd", 9), ev("new", 0, "n", 9)]), "b2")
    after, _, _ = t._state()
    assert c.removed == [] and c.metrics["files_removed"] == 0
    assert set(before) <= set(after)  # every prior file still live, untouched
    rows = {r.conv_id: r.text for r in t.read().collect()}
    assert rows["c1"] == "upd" and rows["c7"] == "t7" and rows["new"] == "n"
    assert len(rows) == 51


def test_mor_semantics_match_cow(spark, table):
    """LWW, stale-loses, tombstone-blocks-zombie, replay no-op — the full
    upsert contract, resolved at read time instead of write time."""
    t = table
    t.merge(edf(spark, [ev("c1", 0, "old", 1), ev("c2", 0, "keep", 1)]), "b1")
    t.merge(edf(spark, [ev("c1", 0, "new", 5)]), "b2")
    t.merge(edf(spark, [ev("c1", 0, "stale", 3)]), "b3")  # older ts loses
    t.merge(edf(spark, [ev("c2", 0, "", 9, op="delete")]), "b4")
    t.merge(edf(spark, [ev("c2", 0, "zombie", 4)]), "b5")  # must not resurrect
    c_again = t.merge(edf(spark, [ev("c1", 0, "REPLAY", 99)]), "b2")  # replayed id
    assert c_again.batch_id == "b2"
    rows = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert rows == {("c1", 0): "new"}
    # point lookup agrees
    assert t.read_key("c1").collect()[0].text == "new"
    assert t.read_key("c2").count() == 0


def test_mor_compact_resolves_deltas(spark, table):
    t = table
    for i in range(5):
        t.merge(edf(spark, [ev("c1", 0, f"v{i}", i), ev(f"c{i}", 1, "x", i)]), f"b{i}")
    before = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    c = t.compact(min_files_per_bucket=1)
    assert c is not None
    after = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert after == before and after[("c1", 0)] == "v4"
    # post-compaction: physically one resolved row per key in the files
    snap = t.snapshot()
    assert snap.groupBy("conv_id", "turn_idx").count().where("count > 1").count() == 0


def test_incremental_compaction_bounded_and_converges(spark, table):
    """max_buckets bounds one compaction call to the N MOST fragmented
    buckets (bounded maintenance pause); repeated calls converge to the
    fully-folded state with logical content unchanged throughout."""
    t = table
    # fragment several buckets unevenly: conv c0..c5 across buckets
    for i in range(6):
        t.merge(
            edf(spark, [ev(f"c{j}", 0, f"v{i}", i) for j in range(6 - i)]),
            f"b{i}",
        )
    before = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    live, _, _ = t._state()
    frag_before = len(live)

    c1 = t.compact(min_files_per_bucket=2, max_buckets=1)
    assert c1 is not None
    # exactly one bucket rewritten — the most fragmented one
    assert len({a["bucket"] for a in c1.added}) == 1
    rewritten = max(
        (len([p for p in live if live[p]["bucket"] == b]), b)
        for b in {a["bucket"] for a in live.values()}
    )[1]
    assert {a["bucket"] for a in c1.added} == {rewritten}
    live2, _, _ = t._state()
    assert len(live2) < frag_before
    assert {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()} == before

    # keep calling with the bound: converges to no-op, content stable
    for _ in range(10):
        if t.compact(min_files_per_bucket=2, max_buckets=1) is None:
            break
    assert t.compact(min_files_per_bucket=2, max_buckets=1) is None
    assert {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()} == before
    # 0/negative are caller errors (the engine's 0-sentinel is translated
    # to None before the call), not silent wrong-slice compactions
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_buckets"):
        t.compact(min_files_per_bucket=1, max_buckets=0)
    with _pytest.raises(ValueError, match="max_buckets"):
        t.compact(min_files_per_bucket=1, max_buckets=-1)


def test_compaction_retries_after_losing_commit_race(spark, table):
    """A separate maintenance process compacting alongside a live ingest
    loop loses the version race to an ingest commit: compact must re-read
    the head and re-attempt (its parquet output is version-independent),
    not raise — and the concurrent batch's rows must survive."""
    t = table
    for i in range(3):
        t.merge(edf(spark, [ev("c1", 0, f"v{i}", i)]), f"b{i}")

    orig = t._write_commit
    raced = {"done": False}

    def race_once(commit):
        if commit.batch_id is None and not raced["done"]:
            raced["done"] = True
            # an ingest commit lands first, stealing this version
            t2 = type(t)(spark, t.root)
            t2.merge(edf(spark, [ev("c9", 9, "concurrent", 99)]), "race")
        return orig(commit)

    t._write_commit = race_once
    try:
        c = t.compact(min_files_per_bucket=1)
    finally:
        t._write_commit = orig
    assert c is not None and raced["done"]
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got[("c1", 0)] == "v2" and got[("c9", 9)] == "concurrent"


def test_merge_race_same_batch_id_commits_once(spark, tmp_path):
    """Split-brain daemons replaying the SAME batch (operator restarts the
    ingest job while the old process is mid-MERGE): the loser of the commit
    race must return the winner's existing commit, not log batch_id twice —
    the exactly-once-per-batch_id replay guard holds under dual writers."""
    t = LakeTable.create(
        spark, str(tmp_path / "sb"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=4,
    )
    t.merge(edf(spark, [ev("c1", 0, "base", 1)]), "b0")

    orig = t._write_commit
    raced = {"done": False}

    def race_once(commit):
        if not raced["done"]:
            raced["done"] = True
            # the OTHER daemon lands the same batch first
            t2 = type(t)(spark, t.root)
            t2.merge(edf(spark, [ev("c1", 1, "winner", 50)]), "dup")
        return orig(commit)

    t._write_commit = race_once
    try:
        c = t.merge(edf(spark, [ev("c1", 1, "winner", 50)]), "dup")
    finally:
        t._write_commit = orig
    assert raced["done"]
    history = t.history()
    dup_commits = [h for h in history if h.get("batch_id") == "dup"]
    assert len(dup_commits) == 1
    assert c.version == dup_commits[0]["version"]
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got == {("c1", 0): "base", ("c1", 1): "winner"}


def test_mor_expire_tombstones_does_not_resurrect(spark, table):
    t = table
    t.merge(edf(spark, [ev("c1", 0, "body", 1)]), "b1")
    t.merge(edf(spark, [ev("c1", 0, "", 10, op="delete")]), "b2")
    c = t.expire_tombstones(ts(100))
    assert c is not None
    assert t.read().where("conv_id = 'c1'").count() == 0  # loser upsert gone too
    assert t.snapshot().where("conv_id = 'c1'").count() == 0


def test_mor_schema_union_survives_narrow_batches(spark, table):
    """A delta batch MISSING an optional column must not shrink the table
    schema, and reads fill the gap with nulls (mergeSchema)."""
    t = table
    wide = edf(spark, [ev("c1", 0, "a", 1)]).withColumn("quality", F.lit(0.9))
    t.merge(wide, "b1")
    t.merge(edf(spark, [ev("c2", 0, "b", 2)]), "b2")  # narrow batch
    assert "quality" in [f.name for f in t.current_schema().fields]
    got = {r.conv_id: r.quality for r in t.read().collect()}
    assert got["c1"] == pytest.approx(0.9) and got["c2"] is None


# -------------------------------------------------------- commit-log scaling


def test_commit_log_checkpoint_bounds_replay_reads(spark, tmp_path, monkeypatch):
    """500-commit table: planning state on a cold open reads O(ckpt_every)
    log files, not O(total commits); a warm second call reads zero."""
    from kafka_connect_fs_spark.plans.lake import Commit

    root = str(tmp_path / "big")
    t = LakeTable.create(spark, root, keys=["k"], ts_col="ts", n_buckets=4)
    for v in range(500):
        t._write_commit(
            Commit(
                version=v, batch_id=f"b{v}",
                added=[{"path": f"f{v}.parquet", "bucket": 0, "rows": 1}],
                removed=[], schema_json=None,
            )
        )
        t._state_full()  # keep the in-memory state current (engine does)

    fresh = LakeTable(spark, root)
    opens = {"n": 0}
    orig = LakeTable._load_commit

    def counting(self, name):
        opens["n"] += 1
        return orig(self, name)

    monkeypatch.setattr(LakeTable, "_load_commit", counting)
    st = fresh._state_full()
    assert st.version == 499 and len(st.live) == 500
    assert st.batch_ids["b123"] == 123
    assert opens["n"] <= LakeTable._ckpt_every, opens["n"]  # cold: suffix only
    opens["n"] = 0
    st2 = fresh._state_full()
    assert st2.version == 499 and opens["n"] == 0  # warm: no log reads


def test_time_travel_from_checkpointed_log(spark, tmp_path):
    """at_version older than the newest checkpoint still replays exactly."""
    from kafka_connect_fs_spark.plans.lake import Commit

    root = str(tmp_path / "tt")
    t = LakeTable.create(spark, root, keys=["k"], ts_col="ts", n_buckets=4)
    for v in range(60):
        t._write_commit(
            Commit(version=v, batch_id=f"b{v}",
                   added=[{"path": f"f{v}.parquet", "bucket": 0, "rows": 1}],
                   removed=[] if v < 30 else [f"f{v-30}.parquet"],
                   schema_json=None)
        )
        t._state_full()
    fresh = LakeTable(spark, root)
    st10 = fresh._state_full(at_version=10)
    assert st10.version == 10 and len(st10.live) == 11
    st59 = fresh._state_full()
    assert st59.version == 59 and len(st59.live) == 30


# ------------------------------------------------- concurrent-writer safety


def test_losing_writer_cannot_clobber_committed_data(spark, tmp_path, monkeypatch):
    """Two writers computing the same version: each attempt writes a unique
    data dir, so the loser's mode('overwrite') can never delete the
    winner's committed files — it only leaves orphans for vacuum()."""
    from kafka_connect_fs_spark.plans.lake import ConcurrentCommitError, _State

    root = str(tmp_path / "race")
    t1 = LakeTable.create(spark, root, keys=["conv_id", "turn_idx"], ts_col="ts",
                          n_buckets=4)
    t1.merge(edf(spark, [ev("c1", 0, "winner", 1)]), "b1")

    t2 = LakeTable(spark, root)
    # t2 raced: it planned against the pre-b1 state
    monkeypatch.setattr(LakeTable, "_state_full",
                        lambda self, at_version=None: _State())
    with pytest.raises(ConcurrentCommitError):
        t2.merge(edf(spark, [ev("c9", 0, "loser", 1)]), "b2")
    monkeypatch.undo()

    # winner's data intact and readable; loser left only orphans
    t3 = LakeTable(spark, root)
    assert [r.text for r in t3.read().collect()] == ["winner"]
    assert t3.vacuum(min_age_seconds=0) >= 1  # loser's orphan files removed
    assert [r.text for r in t3.read().collect()] == ["winner"]


# --------------------------------------------------------- time-range reads


def test_read_range_prunes_files_by_ts_stats(spark, table):
    """Per-file [ts_min, ts_max] footer stats recorded at commit time let
    a time-window read skip files entirely (manifest-stat pruning)."""
    t = table
    t.merge(edf(spark, [ev("c1", 0, "day0", 0), ev("c2", 0, "day0", 10)]), "b1")
    t.merge(edf(spark, [ev("c3", 0, "day1", 86400), ev("c4", 0, "day1", 86410)]), "b2")
    live, _, _ = t._state()
    assert all(a.get("ts_min") and a.get("ts_max") for a in live.values())
    pruned = t.files_in_range(ts_from=ts(86000))
    assert 0 < len(pruned) < len(live)  # day-0 files skipped
    rows = {r.conv_id for r in t.read_range(ts_from=ts(86000)).collect()}
    assert rows == {"c3", "c4"}
    rows0 = {r.conv_id for r in t.read_range(ts_to=ts(86000)).collect()}
    assert rows0 == {"c1", "c2"}


def test_torn_checkpoint_falls_back_to_replay(spark, tmp_path):
    """A corrupt (torn) state checkpoint is ignored — replay falls back to
    the previous checkpoint or the raw log, never to wrong state — and
    checkpoint retention keeps only the newest two files."""
    import glob
    import json as _json

    from kafka_connect_fs_spark.plans.lake import Commit

    root = str(tmp_path / "tc")
    t = LakeTable.create(spark, root, keys=["k"], ts_col="ts", n_buckets=4)
    for v in range(120):
        t._write_commit(
            Commit(version=v, batch_id=f"b{v}",
                   added=[{"path": f"f{v}.parquet", "bucket": 0, "rows": 1}],
                   removed=[], schema_json=None)
        )
        t._state_full()
    ckpts = sorted(glob.glob(f"{root}/_log/*.ckpt.json"))
    assert len(ckpts) == 2  # retention: newest two only
    # tear the newest checkpoint
    with open(ckpts[-1], "w") as f:
        f.write('{"version": 100, "liv')  # truncated mid-key
    fresh = LakeTable(spark, root)
    st = fresh._state_full()
    assert st.version == 119 and len(st.live) == 120
    assert st.batch_ids["b7"] == 7
    # tear BOTH → full log replay still exact
    for c in ckpts:
        with open(c, "w") as f:
            f.write("garbage")
    fresh2 = LakeTable(spark, root)
    st2 = fresh2._state_full()
    assert st2.version == 119 and len(st2.live) == 120


def test_offsets_fold_survives_checkpoint_and_torn_sidecar(spark, tmp_path):
    """The per-stream offsets folded from commit app_metadata survive a
    checkpoint and a cold open (their parquet sidecar), each stream folds
    only its own batch ids, the fold forgets before it upserts, and a
    checkpoint whose sidecar is torn falls back to the previous one."""
    import glob

    from kafka_connect_fs_spark.plans.lake import Commit, stream_batch_id

    root = str(tmp_path / "of")
    t = LakeTable.create(spark, root, keys=["k"], ts_col="ts", n_buckets=4)
    t._ckpt_every = 3

    def w(p, off):
        return {"path": p, "committed_offset": off, "file_size": off, "eof": off > 5}

    for v in range(8):
        md = {"watermarks": [w(f"/f{v}", v), w("/hot", v)], "cleanup": [f"/f{v}"],
              "forget": [f"/f{v - 2}"]}
        t._write_commit(Commit(version=v, batch_id=stream_batch_id("a-", v), added=[],
                               removed=[], schema_json=None, app_metadata=md))
    # another stream, and a commit without offsets, fold nothing into "a-"
    t._write_commit(Commit(version=8, batch_id=stream_batch_id("b-", 0), added=[],
                           removed=[], schema_json=None,
                           app_metadata={"watermarks": [w("/hot", 99)]}))
    t._write_commit(Commit(version=9, batch_id="x", added=[], removed=[],
                           schema_json=None, app_metadata={"watermarks": []}))
    want = {"/f6": w("/f6", 6), "/f7": w("/f7", 7), "/hot": w("/hot", 7)}
    want = {p: {k: r[k] for k in ("committed_offset", "file_size", "eof")}
            for p, r in want.items()}
    st = t._state_full()
    assert st.streams["a-"]["files"] == want and st.streams["a-"]["seq"] == 7
    assert st.streams["a-"]["cleanup"] == ["/f7"]
    assert st.streams["b-"]["files"]["/hot"]["committed_offset"] == 99
    assert len(glob.glob(f"{root}/_log/*.ckpt.offsets.parquet")) == 2  # retention
    cold = LakeTable(spark, root)._state_full()
    assert cold.streams == st.streams
    newest = sorted(glob.glob(f"{root}/_log/*.ckpt.offsets.parquet"))[-1]
    with open(newest, "wb") as f:
        f.write(b"torn")
    assert LakeTable(spark, root)._state_full().streams == st.streams


def test_mor_write_salt_spreads_hot_bucket(spark, tmp_path):
    """write_salt > 1: a batch dominated by ONE key (one bucket) writes
    through several tasks/files instead of serializing into one; content
    identical either way."""
    t1 = LakeTable.create(spark, str(tmp_path / "s1"), keys=["conv_id", "turn_idx"],
                          ts_col="ts", n_buckets=4)
    rows = [ev("hot", 0, f"v{i}", i) for i in range(400)] + [ev("c2", 0, "x", 1)]
    # at toy scale AQE would re-coalesce the salted partitions (they are
    # kilobytes); at real scale a hot bucket exceeds the advisory partition
    # size and stays split — disable coalescing to observe the salt here
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        c1 = t1.merge(edf(spark, rows), "b1", write_salt=4)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    by_bucket: dict[int, int] = {}
    for a in c1.added:
        by_bucket[a["bucket"]] = by_bucket.get(a["bucket"], 0) + 1
    assert max(by_bucket.values()) > 1  # hot bucket split across files
    final = {(r.conv_id, r.turn_idx): r.text for r in t1.read().collect()}
    assert final == {("hot", 0): "v399", ("c2", 0): "x"}
    # compaction folds the salt files back down
    t1.compact(min_files_per_bucket=2)
    live, _, _ = t1._state()
    per = {}
    for a in live.values():
        per[a["bucket"]] = per.get(a["bucket"], 0) + 1
    assert all(n == 1 for n in per.values())


def test_type_widening_evolution_int_to_long(spark, tmp_path):
    """Column type widening (Iceberg promotion): a batch arriving with
    BIGINT where the table has INT widens the column; files written before
    AND after coexist and read back upcast (Spark 4 parquet read-side
    widening behind the promoted footer schema)."""
    t = LakeTable.create(spark, str(tmp_path / "w"), keys=["conv_id", "turn_idx"],
                         ts_col="ts", n_buckets=4)
    S_INT = "conv_id string, turn_idx int, score int, ts timestamp"
    S_LONG = "conv_id string, turn_idx int, score long, ts timestamp"
    t.merge(spark.createDataFrame([("c1", 0, 7, ts(1))], S_INT), "b1")
    big = 2**40
    t.merge(spark.createDataFrame([("c2", 0, big, ts(2))], S_LONG), "b2")
    sch = {f.name: f.dataType.simpleString() for f in t.current_schema().fields}
    assert sch["score"] == "bigint"
    got = {r.conv_id: r.score for r in t.read().collect()}
    assert got == {"c1": 7, "c2": big}
    assert dict(t.read().dtypes)["score"] == "bigint"
    # float -> double widening through the same path
    t2 = LakeTable.create(spark, str(tmp_path / "w2"), keys=["conv_id", "turn_idx"],
                          ts_col="ts", n_buckets=4)
    t2.merge(spark.createDataFrame([("c1", 0, 1.5, ts(1))],
                                   "conv_id string, turn_idx int, v float, ts timestamp"), "b1")
    t2.merge(spark.createDataFrame([("c2", 0, 2.5, ts(2))],
                                   "conv_id string, turn_idx int, v double, ts timestamp"), "b2")
    assert dict(t2.read().dtypes)["v"] == "double"
    assert {r.conv_id: r.v for r in t2.read().collect()} == {"c1": 1.5, "c2": 2.5}


def test_read_key_prunes_files_by_key_stats(spark, table):
    """After key-clustered compaction, per-file [key_min, key_max] stats
    let a point lookup skip sibling files in its own bucket."""
    t = table
    # many keys, several merges → several files per bucket
    for b in range(3):
        t.merge(edf(spark, [ev(f"c{i:03d}", 0, f"{b}:{i}", b * 100 + i)
                            for i in range(b * 30, b * 30 + 30)]), f"b{b}")
    t.compact(min_files_per_bucket=1)
    live, _, _ = t._state()
    assert all(a.get("key_min") and a.get("key_max") for a in live.values())
    # the lookup reads at most the files whose range covers the key
    target = "c005"
    from kafka_connect_fs_spark.functions.hashing import spark_xxhash64

    bucket = spark_xxhash64(target) % t.n_buckets
    bucket_files = [p for p, a in live.items() if a["bucket"] == bucket]
    covering = [
        p for p, a in live.items()
        if a["bucket"] == bucket and a["key_min"] <= target <= a["key_max"]
    ]
    assert len(covering) <= len(bucket_files)
    got = t.read_key(target).collect()
    assert [(r.conv_id, r.text) for r in got] == [(target, "0:5")]
    assert t.read_key("zzz_missing").count() == 0


def test_vacuum_retention_preserves_time_travel(spark, table):
    c1 = table.merge(edf(spark, [ev("c1", 0, "v1", 1)]), "b1")
    table.merge(edf(spark, [ev("c1", 0, "v2", 2)]), "b2")
    # each compaction folds the bucket to one file, leaving the previous
    # ones dead (reachable only by time travel)
    c2 = table.compact()
    table.merge(edf(spark, [ev("c1", 0, "v3", 3)]), "b3")
    c3 = table.compact()
    # keep the last 2 versions' files: v2 and v3 readable, v1's file gone
    table.vacuum(retain_versions=2, min_age_seconds=0)
    assert table.read(at_version=c3.version).collect()[0].text == "v3"
    assert table.read(at_version=c2.version).collect()[0].text == "v2"
    with pytest.raises(Exception):
        table.read(at_version=c1.version).collect()
    # full vacuum keeps only the latest
    table.vacuum(min_age_seconds=0)
    assert table.read().collect()[0].text == "v3"


def test_read_changes_serves_exact_change_batches(spark, table):
    """CDF: changes between two versions come back exactly — upserts AND
    delete events with their op — without snapshot diffing; compaction
    commits add no phantom changes."""
    t = table
    c1 = t.merge(edf(spark, [ev("c1", 0, "a", 1), ev("c2", 0, "b", 1)]), "b1")
    c2 = t.merge(edf(spark, [ev("c1", 0, "a2", 2)]), "b2")
    c3 = t.merge(edf(spark, [ev("c2", 0, "", 3, op="delete")]), "b3")
    ch = t.read_changes(c1.version).collect()
    got = {(r.conv_id, r.op, r.text, r._commit_version, r._batch_id) for r in ch}
    assert got == {
        ("c1", "upsert", "a2", c2.version, "b2"),
        ("c2", "delete", "", c3.version, "b3"),
    }
    # bounded upper version
    assert {r.text for r in t.read_changes(c1.version, c2.version).collect()} == {"a2"}
    # compaction emits no changes
    t.compact(min_files_per_bucket=1)
    assert {r.text for r in t.read_changes(c3.version).collect()} == set()
    # full replay of the feed reconstructs the final state
    allch = t.read_changes(-1)
    from kafka_connect_fs_spark.operators.lww import lww_dedup

    final = lww_dedup(allch, ["conv_id", "turn_idx"], "ts").filter("op != 'delete'")
    assert {(r.conv_id, r.text) for r in final.collect()} == {("c1", "a2")}


def test_downstream_pipeline_tails_the_lake_via_cdf(spark, tmp_path):
    """Composition: pipeline A ingests files into lake A; pipeline B tails
    lake A's change feed version-by-version into lake B. After any number
    of batches, B's final state equals A's — the lake is itself a tailable
    CDC source for downstream consumers."""
    a = LakeTable.create(spark, str(tmp_path / "a"), keys=["conv_id", "turn_idx"],
                         ts_col="ts", n_buckets=4)
    b = LakeTable.create(spark, str(tmp_path / "b"), keys=["conv_id", "turn_idx"],
                         ts_col="ts", n_buckets=4)
    cursor = -1
    for i in range(3):
        batch = [ev(f"c{j}", 0, f"g{i}:{j}", i * 10 + j) for j in range(4)]
        if i == 2:
            batch.append(ev("c0", 0, "", 99, op="delete"))
        a.merge(edf(spark, batch), f"a{i}")
        # downstream tail: consume exactly the new versions
        head = a.latest_version()
        changes = a.read_changes(cursor, head)
        b.merge(changes, batch_id=f"b-from-a-{head}")
        cursor = head
    state_a = {(r.conv_id, r.turn_idx): r.text for r in a.read().collect()}
    state_b = {(r.conv_id, r.turn_idx): r.text for r in b.read().collect()}
    assert state_a == state_b and ("c0", 0) not in state_a


def test_read_range_both_bounds(spark, table):
    t = table
    t.merge(edf(spark, [ev("c1", 0, "early", 10), ev("c2", 0, "mid", 500),
                        ev("c3", 0, "late", 2000)]), "b1")
    rows = {r.conv_id for r in t.read_range(ts_from=ts(100), ts_to=ts(1000)).collect()}
    assert rows == {"c2"}
    # half-open: from inclusive, to exclusive
    rows2 = {r.conv_id for r in t.read_range(ts_from=ts(500), ts_to=ts(2000)).collect()}
    assert rows2 == {"c2"}


def test_files_in_range_incomparable_stats_never_prune(spark, table):
    """Numeric / mistyped bounds must degrade to reading the file (like
    read_key's _covers), never crash or silently prune."""
    t = table
    t.merge(edf(spark, [ev("c1", 0, "a", 0), ev("c2", 0, "b", 86400)]), "b1")
    live, _, _ = t._state()
    # int-epoch bounds are incomparable with the stored isoformat strings:
    # every live file must survive, and nothing may raise
    assert t.files_in_range(ts_from=0, ts_to=10**12) == sorted(live)
    assert t.files_in_range(ts_from=0) == sorted(live)


def test_read_changes_commit_version_long_on_both_paths(spark, table):
    """The empty and non-empty read_changes paths must agree on
    _commit_version's type (long) so unions across calls don't clash."""
    t = table
    c1 = t.merge(edf(spark, [ev("c1", 0, "a", 1)]), "b1")
    nonempty = t.read_changes(-1)
    empty = t.read_changes(c1.version)
    tname = {f.name: f.dataType.simpleString() for f in nonempty.schema.fields}
    tname_e = {f.name: f.dataType.simpleString() for f in empty.schema.fields}
    assert tname["_commit_version"] == "bigint" == tname_e["_commit_version"]
    # the union a CDF consumer would do must not raise
    assert nonempty.unionByName(empty).count() == 1



def test_read_changes_empty_poll_mirrors_current_schema(spark, tmp_path):
    """After additive schema evolution, an EMPTY read_changes poll must
    mirror the CURRENT schema (newest live file), not the oldest commit's
    — otherwise a consumer unioning consecutive polls hits a clash."""
    t = LakeTable.create(
        spark, str(tmp_path / "cdf_evo"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=2,
    )
    t.merge(edf(spark, [ev("c1", 0, "a", 1)]), batch_id="b1")
    evolved = edf(spark, [ev("c2", 0, "b", 2)]).withColumn("extra", F.lit("x"))
    t.merge(evolved, batch_id="b2")
    v = t.latest_version()
    nonempty = t.read_changes(0, v)
    empty = t.read_changes(v)  # nothing newer -> empty poll
    assert empty.count() == 0
    assert "extra" in nonempty.columns
    assert set(empty.columns) == set(nonempty.columns)
    # and the union a consumer would do works without a clash
    assert nonempty.unionByName(empty).count() == nonempty.count()


def test_concurrent_commit_stale_snapshot_raises_not_overwrites(spark, tmp_path):
    """Optimistic concurrency: a writer merging against a STALE state
    snapshot must surface ConcurrentCommitError (put-if-absent on the
    version derived from ITS snapshot), never silently overwrite the
    interleaved commit."""
    from kafka_connect_fs_spark.plans.lake import ConcurrentCommitError

    root = str(tmp_path / "race")
    ta = LakeTable.create(spark, root, keys=["conv_id", "turn_idx"], ts_col="ts", n_buckets=2)
    ta.merge(edf(spark, [ev("c1", 0, "base", 1)]), "b0")
    tb = LakeTable(spark, root)
    stale = ta._state_full()  # A's view BEFORE B commits
    tb.merge(edf(spark, [ev("c1", 0, "b-wins", 5)]), "b-B")
    orig = ta._state_full
    ta._state_full = lambda *a, **kw: stale  # A still acts on the stale view
    try:
        with pytest.raises(ConcurrentCommitError):
            ta.merge(edf(spark, [ev("c1", 0, "a-overwrites", 9)]), "b-A")
    finally:
        ta._state_full = orig
    assert LakeTable(spark, root).read().collect()[0].text == "b-wins"


def test_read_key_int_typed_first_key(spark, tmp_path):
    """Spark hashes int columns through a 4-byte path — the driver-side
    bucket twin must match or read_key silently returns empty."""
    schema = T.StructType([
        T.StructField("num_key", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "intkey"), keys=["num_key"],
                         ts_col="ts", n_buckets=8)
    rows = [Row(num_key=i, text=f"t{i}", ts=ts(i)) for i in range(50)]
    t.merge(spark.createDataFrame(rows, schema), "b1")
    for k in (0, 7, 42, 49):
        got = t.read_key(k).collect()
        assert len(got) == 1 and got[0].text == f"t{k}", k


def test_vacuum_min_age_guards_in_flight_writers(spark, table):
    table.merge(edf(spark, [ev("c1", 0, "a", 1)]), "b1")
    table.merge(edf(spark, [ev("c1", 0, "b", 2)]), "b2")
    table.compact()  # the folded deltas become dead files
    # default age guard: freshly-written unreferenced files (an in-flight
    # writer's pre-commit output looks exactly like this) survive
    assert table.vacuum() == 0
    assert table.vacuum(min_age_seconds=0) >= 1
    assert table.read().collect()[0].text == "b"


def test_partial_checkpoint_falls_back_to_replay(spark, tmp_path):
    """A checkpoint that is valid JSON but missing fields (older writer,
    partial repair) must fall back to log replay, not crash reads."""
    import json as _json
    import os as _os

    t = LakeTable.create(spark, str(tmp_path / "ck"), keys=["conv_id", "turn_idx"],
                         ts_col="ts", n_buckets=2)
    t.merge(edf(spark, [ev("c1", 0, "x", 1)]), "b1")
    v = t.latest_version()
    with open(t._ckpt_path(v), "w") as f:
        _json.dump({"version": v, "live": {}}, f)  # missing fields
    t2 = LakeTable(spark, str(tmp_path / "ck"))
    assert t2.read().collect()[0].text == "x"


def test_cow_schema_union_keeps_unaffected_bucket_columns(spark, tmp_path):
    """A merge touching only bucket B must not drop from the tracked
    schema a column that lives solely in bucket A's files, nor may the
    compaction that follows."""
    t = LakeTable.create(spark, str(tmp_path / "schema_union"),
                         keys=["conv_id", "turn_idx"], ts_col="ts", n_buckets=8)
    with_extra = edf(spark, [ev("c1", 0, "a", 1)]).withColumn("extra", F.lit("x"))
    t.merge(with_extra, "b1")
    # find a conv that buckets differently from c1, then merge WITHOUT extra
    for i in range(2, 30):
        other = edf(spark, [ev(f"c{i}", 0, "b", 2)])
        b1 = t._bucket_expr("conv_id")
        a = with_extra.select(b1).first()[0]
        b = other.select(t._bucket_expr("conv_id")).first()[0]
        if a != b:
            t.merge(other, f"b{i}")
            t.compact(min_files_per_bucket=1)
            break
    else:
        pytest.skip("no differing bucket found")
    assert "extra" in t.current_schema().fieldNames()
    got = {r.conv_id: r for r in t.read().collect()}
    assert got["c1"].extra == "x"


def test_time_travel_does_not_apply_later_renames(spark, table):
    c1 = table.merge(edf(spark, [ev("c1", 0, "a", 1)]), "b1")
    table.rename_column("tool", "tool_name")
    old = table.snapshot(at_version=c1.version)
    assert "tool" in old.columns and "tool_name" not in old.columns
    now = table.snapshot()
    assert "tool_name" in now.columns and "tool" not in now.columns


def test_rename_key_or_ts_column_rejected(spark, table):
    with pytest.raises(ValueError):
        table.rename_column("conv_id", "cid")
    with pytest.raises(ValueError):
        table.rename_column("ts", "event_time")


def test_promote_rejects_lossy_bigint_to_double(spark):
    from kafka_connect_fs_spark.plans.lake import _promote

    # int × double is lossless (32-bit fits the 53-bit mantissa)
    assert _promote(T.IntegerType(), T.DoubleType()).simpleString() == "double"
    with pytest.raises(ValueError):
        _promote(T.LongType(), T.DoubleType())
    with pytest.raises(ValueError):
        _promote(T.FloatType(), T.LongType())


def test_cow_write_salt_accepted(spark, tmp_path):
    """A salted merge of a hot key keeps the latest versions, and so
    does the compaction that folds it to one file per bucket."""
    t = LakeTable.create(spark, str(tmp_path / "salt"),
                         keys=["conv_id", "turn_idx"], ts_col="ts", n_buckets=2)
    rows = [ev("hot", i % 3, f"v{i}", i) for i in range(60)]
    t.merge(edf(spark, rows), "b1", write_salt=4)
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got == {("hot", k): f"v{57 + k}" for k in range(3)}
    t.compact(min_files_per_bucket=1)
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got == {("hot", k): f"v{57 + k}" for k in range(3)}


def test_xxhash64_bucket_property_driver_equals_spark(spark):
    """VERDICT r4 #6: read_key trusts a driver-side reimplementation of
    the bucket hash — property-pin driver bucket == Spark bucket over
    random keys so twin drift can't silently return empty lookups."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_connect_fs_spark.functions.hashing import spark_xxhash64

    n_buckets = 16

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(st.text(min_size=0, max_size=40), min_size=1, max_size=40),
        st.lists(st.integers(-(2**31), 2**31 - 1), min_size=1, max_size=40),
        st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=40),
    )
    def check(strs, ints, longs):
        df = spark.createDataFrame(
            [(s,) for s in strs], "k string"
        ).select(F.pmod(F.xxhash64("k"), F.lit(n_buckets)).alias("b"))
        got = [r.b for r in df.collect()]
        assert got == [spark_xxhash64(s) % n_buckets for s in strs]

        di = spark.createDataFrame(
            [(i,) for i in ints], "k int"
        ).select(F.pmod(F.xxhash64("k"), F.lit(n_buckets)).alias("b"))
        assert [r.b for r in di.collect()] == [
            spark_xxhash64(i, 4) % n_buckets for i in ints
        ]

        dl = spark.createDataFrame(
            [(i,) for i in longs], "k long"
        ).select(F.pmod(F.xxhash64("k"), F.lit(n_buckets)).alias("b"))
        assert [r.b for r in dl.collect()] == [
            spark_xxhash64(i, 8) % n_buckets for i in longs
        ]

    check()


def test_read_key_property_random_keys_found(spark, tmp_path):
    """End-to-end pin: for random string keys written through merge(),
    read_key() must find every key (bucket twin + footer-stat pruning
    both on the path)."""
    import random

    rng = random.Random(4242)
    keys = list({f"c{rng.randrange(10**9)}-{i}" for i in range(60)})
    t = LakeTable.create(
        spark, str(tmp_path / "pk"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=8,
    )
    df = spark.createDataFrame(
        [(k, i % 3, f"txt-{k}", float(i)) for i, k in enumerate(keys)],
        "conv_id string, turn_idx int, text string, ts double",
    )
    t.merge(df, batch_id="pk1")
    for k in rng.sample(keys, 12):
        got = t.read_key(k).collect()
        assert {r.conv_id for r in got} == {k}
        assert all(r.text == f"txt-{k}" for r in got)


def test_mor_merge_retries_through_concurrent_commit(spark, tmp_path):
    """A maintenance process committing between a merge's state read and
    its commit write is the NORMAL two-process deployment: the MoR merge
    must re-attempt at the new head (delta files are version-
    independent), not fail the batch."""
    root = str(tmp_path / "race_mor")
    t = LakeTable.create(spark, root, keys=["conv_id", "turn_idx"],
                         ts_col="ts", n_buckets=4)
    df_a = spark.createDataFrame(
        [(f"c{i}", 0, f"a{i}", 1.0) for i in range(8)],
        "conv_id string, turn_idx int, text string, ts double")
    df_b = spark.createDataFrame(
        [(f"d{i}", 0, f"b{i}", 2.0) for i in range(8)], df_a.schema)

    other = LakeTable(spark, root)
    fired = []

    def steal_version():
        if not fired:  # only on the FIRST attempt: the retry must win
            fired.append(1)
            other.merge(df_b, batch_id="thief")

    c = t.merge(df_a, batch_id="victim", precommit_check=steal_version)
    assert c.metrics["commit_retries"] == 1
    got = {r.conv_id for r in t.read().collect()}
    assert len(got) == 16  # both batches fully present
    versions = [h["version"] for h in t.history()]
    assert versions == sorted(set(versions))  # no clobbered versions


def test_cow_merge_restarts_when_inputs_compacted_away(spark, tmp_path):
    """A merge racing a COMPACTION of the buckets it writes into: the
    merge retries at the new head (its delta only adds files), reaches the
    right final state, and no compacted-away file is live again."""
    root = str(tmp_path / "race_compact")
    t = LakeTable.create(spark, root, keys=["conv_id", "turn_idx"],
                         ts_col="ts", n_buckets=4)
    seed = spark.createDataFrame(
        [(f"c{i}", 0, f"old{i}", 1.0) for i in range(12)],
        "conv_id string, turn_idx int, text string, ts double")
    t.merge(seed, batch_id="seed1")
    t.merge(seed.withColumn("ts", F.lit(2.0)), batch_id="seed2")

    other = LakeTable(spark, root)
    fired = []

    def compact_under_us():
        if not fired:
            fired.append(1)
            assert other.compact(min_files_per_bucket=2) is not None

    upd = spark.createDataFrame(
        [(f"c{i}", 0, f"new{i}", 9.0) for i in range(12)], seed.schema)
    c = t.merge(upd, batch_id="upd1", precommit_check=compact_under_us)
    assert c.metrics["commit_retries"] == 1
    got = {r.conv_id: r.text for r in t.read().collect()}
    assert got == {f"c{i}": f"new{i}" for i in range(12)}
    # the replaced (compacted-away) files must not have been resurrected
    live, _, _ = t._state()
    removed = {p for h in t.history() for p in h["removed"]}
    assert removed and not (set(live) & removed)


# ------------------------------------------------------ bucket-spec evolution


def _final(t):
    return {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}


def _schemes(t):
    live, _, _ = t._state()
    return {a.get("scheme") for a in live.values()}


def test_set_n_buckets_is_metadata_only_and_reads_stay_exact(spark, tmp_path):
    """Iceberg-style bucket-spec evolution: the switch is a metadata-only
    commit; old files stay valid under their recorded scheme and point
    lookups remain exact across both eras."""
    t = LakeTable.create(
        spark, str(tmp_path / "ev"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=4,
    )
    t.merge(edf(spark, [ev(f"c{i}", 0, f"old{i}", i) for i in range(8)]), "b0")
    c = t.set_n_buckets(9)
    assert c.added == [] and c.removed == [] and c.n_buckets == 9
    assert t.n_buckets == 9
    # new writes tag the new scheme; old files keep theirs
    t.merge(
        edf(
            spark,
            [ev(f"n{i}", 0, f"new{i}", 100 + i) for i in range(8)]
            + [ev("c3", 0, "old3-updated", 999)],
        ),
        "b1",
    )
    assert _schemes(t) == {4, 9}
    expect = {(f"c{i}", 0): f"old{i}" for i in range(8)}
    expect.update({(f"n{i}", 0): f"new{i}" for i in range(8)})
    expect[("c3", 0)] = "old3-updated"
    assert _final(t) == expect
    # point lookups exact for: old-era key, new-era key, cross-era update
    for k, want in [("c1", {"old1"}), ("n5", {"new5"}), ("c3", {"old3-updated"})]:
        got = {r.text for r in t.read_key(k).collect()}
        assert got == want, (k, got, want)


def test_compact_migrates_old_scheme_files(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "mig"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=4,
    )
    t.merge(edf(spark, [ev(f"c{i}", 0, f"v{i}", i) for i in range(10)]), "b0")
    t.set_n_buckets(7)
    t.merge(edf(spark, [ev("c0", 0, "v0-upd", 50)]), "b1")
    before = _final(t)
    # threshold high: nothing is fragmented enough — ONLY migration fires
    c = t.compact(min_files_per_bucket=99)
    assert c is not None
    assert _schemes(t) == {7}  # every live file now carries the new scheme
    assert _final(t) == before
    for k in ("c0", "c4", "c9"):
        assert t.read_key(k).count() == 1, k
    # fully migrated and unfragmented: nothing left to compact
    assert t.compact(min_files_per_bucket=99) is None


def test_cow_merge_rewrites_old_scheme_files_of_affected_keys(spark, tmp_path):
    """A key updated after set_n_buckets has versions in files of both
    schemes (bucketed differently under each): reads and point lookups
    must show only the latest, before and after compaction migrates the
    old-scheme file."""
    t = LakeTable.create(
        spark, str(tmp_path / "schemes"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=4,
    )
    t.merge(edf(spark, [ev("k1", 0, "v1", 1), ev("k2", 0, "x", 1)]), "b0")
    t.set_n_buckets(8)
    t.merge(edf(spark, [ev("k1", 0, "v2", 2)]), "b1")
    rows = t.read().collect()
    assert len(rows) == 2
    t.compact(min_files_per_bucket=2)
    assert _schemes(t) == {8}
    rows = t.read().collect()
    assert {(r.conv_id, r.turn_idx): r.text for r in rows} == {
        ("k1", 0): "v2", ("k2", 0): "x",
    }
    assert len(rows) == 2  # no stale duplicate of k1 anywhere
    assert {r.text for r in t.read_key("k1").collect()} == {"v2"}
    assert {r.text for r in t.read_key("k2").collect()} == {"x"}


def test_set_n_buckets_survives_checkpoint_and_reopen(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "ck"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=4,
    )
    t._ckpt_every = 2
    t.merge(edf(spark, [ev("a", 0, "1", 1)]), "b0")
    t.set_n_buckets(6)
    t.merge(edf(spark, [ev("b", 0, "2", 2)]), "b1")
    t.merge(edf(spark, [ev("c", 0, "3", 3)]), "b2")  # past a checkpoint
    fresh = LakeTable(spark, t.root)
    assert _final(fresh) == {("a", 0): "1", ("b", 0): "2", ("c", 0): "3"}
    assert fresh.n_buckets == 6  # refreshed by the state replay
    assert {r.text for r in fresh.read_key("a").collect()} == {"1"}


def test_expire_tombstones_across_schemes(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "exp"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=4,
    )
    t.merge(
        edf(
            spark,
            [ev("gone", 0, "dead", 1), ev("keep", 0, "alive", 1)],
        ),
        "b0",
    )
    t.merge(edf(spark, [ev("gone", 0, None, 2, op="delete")]), "b1")
    t.set_n_buckets(5)
    t.merge(edf(spark, [ev("new", 0, "fresh", 10)]), "b2")
    c = t.expire_tombstones(ts(100))
    assert c is not None
    # rewritten files are single-scheme (tagged with the current scheme)
    live, _, _ = t._state()
    for a in live.values():
        assert a.get("scheme") in (4, 5)
    assert _final(t) == {("keep", 0): "alive", ("new", 0): "fresh"}
    assert {r.text for r in t.read_key("keep").collect()} == {"alive"}


def test_expire_tombstones_cross_scheme_versions_of_one_key(spark, tmp_path):
    """During a bucket-spec transition a tombstoned key's LOSER versions
    can sit in files of the OTHER scheme, whose bucket id (hash under
    that scheme) differs from the tombstone file's stored id. Expiry must
    rewrite those files too: dropping the tombstone while a loser upsert
    survives in an unselected file would resurrect the deleted key at
    read time."""
    from kafka_connect_fs_spark.functions.hashing import spark_xxhash64

    h = spark_xxhash64("gone", 8)
    assert h % 8 != h % 13  # the scenario requires differing bucket ids
    t = LakeTable.create(
        spark, str(tmp_path / "xs"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=8,
    )
    t.merge(edf(spark, [ev("gone", 0, "v1", 1)]), "b0")
    t.merge(edf(spark, [ev("gone", 0, None, 20, op="delete")]), "b1")
    t.set_n_buckets(13)
    # late upsert with ts BETWEEN v1 and the tombstone lands
    # post-evolution: scheme-13 file, bucket h%13 != the tombstone's h%8
    t.merge(edf(spark, [ev("gone", 0, "late-loser", 15)]), "b2")
    assert t.read().where("conv_id = 'gone'").count() == 0  # delete holds
    c = t.expire_tombstones(ts(100))
    assert c is not None
    # the loser was removed in the same rewrite — no resurrection
    assert t.read().where("conv_id = 'gone'").count() == 0
    live, _, _ = t._state()
    for a in live.values():
        assert a.get("scheme") in (8, 13)


def test_set_n_buckets_validates(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "val"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=4,
    )
    with pytest.raises(ValueError):
        t.set_n_buckets(0)
    with pytest.raises(ValueError):
        t.set_n_buckets(-3)


def test_read_columns_prunes_scan_below_lww_resolve(spark, table):
    """read(columns=["text"]) must push column pruning into the parquet
    ReadSchema even though the MoR LWW aggregate packs rows into a
    struct: `role` and `tool` (unrequested payload) may not be scanned,
    while keys/ts/lineage stay internal to keep the resolve
    deterministic — and the result equals the unpruned read."""
    t = table
    t.merge(edf(spark, [ev("a", 0, "v1", 1), ev("a", 0, "v2", 2),
                        ev("b", 1, "x", 3)]), "b1")
    t.merge(edf(spark, [ev("b", 1, "y", 4)]), "b2")

    df = t.read(columns=["conv_id", "text"])
    assert df.columns == ["conv_id", "text"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas, plan
    for ln in read_schemas:
        assert "role" not in ln and "tool" not in ln, ln
        assert "text" in ln
    got = {(r.conv_id, r.text) for r in df.collect()}
    want = {(r.conv_id, r.text)
            for r in t.read().select("conv_id", "text").collect()}
    assert got == want == {("a", "v2"), ("b", "y")}

    with __import__("pytest").raises(ValueError, match="not in table"):
        t.read(columns=["nope"])


def test_delete_where_tombstones_matching_current_rows(spark, table):
    """Predicate delete erases exactly the keys whose CURRENT winning row
    matches — including rows whose older versions didn't match — and a
    genuinely later upsert still supersedes the tombstone."""
    t = table
    t.merge(edf(spark, [
        ev("a", 0, "keep", 1),
        ev("b", 0, "purge-me", 2),
        ev("c", 0, "purge-me", 3),
        ev("c", 1, "keep", 4),
    ]), "b1")
    # c/0's current version no longer matches; b/0 still does
    t.merge(edf(spark, [ev("c", 0, "keep-now", 5)]), "b2")

    commit = t.delete_where(F.col("text") == "purge-me", batch_id="purge1")
    assert commit.metrics["rows_written"] == 1  # only b/0 matched
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got == {("a", 0): "keep", ("c", 0): "keep-now", ("c", 1): "keep"}

    # replaying the same batch_id is a no-op (inherited from merge)
    again = t.delete_where(F.col("text") == "purge-me", batch_id="purge1")
    assert again.version == commit.version

    # a later event for the deleted key wins over the tombstone
    t.merge(edf(spark, [ev("b", 0, "reborn", 99)]), "b3")
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got[("b", 0)] == "reborn"


def test_delete_where_sql_string_and_column_hint(spark, table):
    """SQL-string predicates work, and needed_columns prunes the matching
    scan's ReadSchema to predicate + key/ts columns."""
    t = table
    t.merge(edf(spark, [ev("a", 0, "x", 1), ev("b", 0, "yy", 2)]), "b1")
    t.delete_where("length(text) > 1", needed_columns=["text"])
    assert {r.conv_id for r in t.read().collect()} == {"a"}


def test_read_range_columns_pruned(spark, table):
    """read_range(columns=...) prunes the scan like read(columns=...)."""
    t = table
    t.merge(edf(spark, [ev("a", 0, "early", 1), ev("b", 0, "late", 50)]), "b1")
    df = t.read_range(ts_from=ts(10), columns=["text"])
    assert df.columns == ["text"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    for ln in (l for l in plan.splitlines() if "ReadSchema" in l):
        assert "role" not in ln and "tool" not in ln, ln
    assert [r.text for r in df.collect()] == ["late"]


def test_read_columns_and_delete_where_on_never_written_table(spark, tmp_path):
    """Fresh (created, never merged) tables: read(columns=keys) returns
    an empty keyed frame, delete_where is a no-op returning None — a
    retention cron against a new table must not crash."""
    t = LakeTable.create(
        spark, str(tmp_path / "fresh"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=4,
    )
    df = t.read(columns=["conv_id"])
    assert df.columns == ["conv_id"] and df.count() == 0
    assert t.delete_where("conv_id = 'x'", needed_columns=["conv_id"]) is None


def test_read_range_empty_window_keeps_projection_contract(spark, table):
    """A window pruned to zero files must still return the projected
    schema (callers union per-window pages) and still validate columns."""
    t = table
    t.merge(edf(spark, [ev("a", 0, "x", 1)]), "b1")
    empty = t.read_range(ts_from=ts(10**6), ts_to=ts(10**6 + 1),
                         columns=["conv_id", "text"])
    assert empty.columns == ["conv_id", "text"] and empty.count() == 0
    with pytest.raises(ValueError, match="not in table"):
        t.read_range(ts_from=ts(10**6), ts_to=ts(10**6 + 1), columns=["nope"])


def test_delete_where_derives_needed_columns(spark, table):
    """Without needed_columns, the predicate's referenced columns are
    derived from the expression tree: the match scan's parquet ReadSchema
    must carry only role + keys + ts — never text/tool (the retention
    cron gets the pruned scan by default, VERDICT r5 item 7)."""
    t = table
    t.merge(edf(spark, [ev("a", 0, "x", 1), ev("b", 0, "y", 2)]), "b1")
    assert sorted(t._referenced_columns(F.col("role") == "user")) == ["role"]
    tomb = t._delete_tombstones(F.col("role") == "user")
    plan = tomb._jdf.queryExecution().executedPlan().toString()
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas, plan
    for ln in read_schemas:
        assert "text" not in ln and "tool" not in ln, ln
        assert "role" in ln and "conv_id" in ln and "ts" in ln, ln
    # end-to-end: the derived pruning changes nothing about WHAT deletes
    c = t.delete_where(F.col("role") == "user", batch_id="p1")
    assert c.metrics["rows_written"] == 2
    assert t.read().count() == 0


def test_delete_where_rejects_float_ts(spark, tmp_path):
    """A float/double ts has no safe +1 tick either: it out-ranks
    genuinely-later events within 1 unit, and at large magnitudes
    ts+1 == ts (precision-absorbed) so the tombstone ties/loses the LWW
    it must win — refuse loudly instead of silently failing deletes."""
    t = LakeTable.create(
        spark, str(tmp_path / "fl"), keys=["k"], ts_col="ts",
        n_buckets=2,
    )
    t.merge(
        spark.createDataFrame([("a", 2.0, "v")],
                              "k string, ts double, text string"),
        "b1",
    )
    with pytest.raises(ValueError, match="timestamp or numeric"):
        t.delete_where("text = 'v'")


def test_delete_where_rejects_string_ts(spark, tmp_path):
    """A string ts has no type-safe +1 tick (string + 1 → NULL tombstone
    ts that silently LOSES LWW) — delete_where must refuse loudly."""
    t = LakeTable.create(
        spark, str(tmp_path / "s"), keys=["k"], ts_col="ts",
        n_buckets=2,
    )
    t.merge(
        spark.createDataFrame([("a", "2024-01-01T00:00:00", "v")],
                              "k string, ts string, text string"),
        "b1",
    )
    with pytest.raises(ValueError, match="timestamp or numeric"):
        t.delete_where("text = 'v'")


# ------------------------------------------------------------ legacy tables


def _legacy_table(spark, root, meta):
    """A table as an older build wrote it with copy-on-write merges: every
    batch commit rewrote whole resolved buckets and removed the files it
    replaced. ``meta`` is the extra ``_table.json`` content."""
    import json as _json
    import os as _os

    from kafka_connect_fs_spark.plans.lake import Commit

    _os.makedirs(_os.path.join(root, "_log"))
    _os.makedirs(_os.path.join(root, "data"))
    with open(_os.path.join(root, "_table.json"), "w") as f:
        _json.dump({"keys": ["conv_id", "turn_idx"], "ts_col": "ts",
                    "n_buckets": 2, **meta}, f)
    t = LakeTable(spark, root)

    def write(version, rows):
        rel = f"c{version:020d}-legacy"
        df = edf(spark, rows).withColumn("_bucket", t._bucket_expr("conv_id", 2))
        df.withColumn("_pb", F.col("_bucket")).write.partitionBy("_pb").parquet(
            _os.path.join(root, "data", rel)
        )
        return t._scan_written(_os.path.join(root, "data", rel), rel, 2)

    schema = EVENT_SCHEMA.json()
    v0 = write(0, [ev("c1", 0, "a", 1), ev("c2", 0, "b", 1)])
    t._write_commit(Commit(0, "b1", v0, [], schema))
    v1 = write(1, [ev("c1", 0, "a2", 2), ev("c2", 0, "b", 1)])
    t._write_commit(Commit(1, "b2", v1, [a["path"] for a in v0], schema))
    return LakeTable(spark, root)


@pytest.mark.parametrize("meta", [{"merge_mode": "cow"}, {}], ids=["cow", "no_key"])
def test_legacy_copy_on_write_table_opens_and_reads_exactly(spark, tmp_path, meta):
    """A table an older build wrote copy-on-write (its _table.json says
    "cow", or names no mode) reads exactly: resolving already-resolved
    files changes nothing, and new merges append deltas over them. Its
    rewrite commits are not change sets, so read_changes refuses them."""
    t = _legacy_table(spark, str(tmp_path / "legacy"), meta)
    assert _final(t) == {("c1", 0): "a2", ("c2", 0): "b"}
    assert {r.text for r in t.read_key("c1").collect()} == {"a2"}
    assert {r.text for r in t.read(at_version=0).collect()} == {"a", "b"}
    with pytest.raises(ValueError, match="not a change set"):
        t.read_changes(-1)
    t.merge(edf(spark, [ev("c2", 0, "b2", 5), ev("c3", 0, "c", 5)]), "b3")
    assert _final(t) == {("c1", 0): "a2", ("c2", 0): "b2", ("c3", 0): "c"}
    assert {r.text for r in t.read_changes(1).collect()} == {"b2", "c"}
    t.compact(min_files_per_bucket=1)
    assert _final(t) == {("c1", 0): "a2", ("c2", 0): "b2", ("c3", 0): "c"}


def test_create_writes_mor_mode_and_rejects_cow(spark, tmp_path):
    """New tables record merge_mode "mor" (older builds treat a missing
    key as copy-on-write and would skip the read-time resolve); asking
    for copy-on-write points at merge() followed by compact()."""
    import json as _json
    import os as _os

    t = LakeTable.create(spark, str(tmp_path / "new"), keys=["k"], ts_col="ts")
    with open(_os.path.join(t.root, "_table.json")) as f:
        assert _json.load(f)["merge_mode"] == "mor"
    with pytest.raises(ValueError, match=r"compact\(\)"):
        LakeTable.create(spark, str(tmp_path / "c"), keys=["k"], ts_col="ts",
                         merge_mode="cow")
    assert not LakeTable.exists(str(tmp_path / "c"))


def test_stored_null_op_row_reads_as_upsert(spark, table):
    """A row a table already holds with a NULL op (merged by a build that
    stored op as given) reads back as an upsert through every read."""
    import os as _os

    from kafka_connect_fs_spark.plans.lake import Commit

    t = table
    rel = "c00000000000000000000-nullop"
    df = edf(spark, [ev("c1", 0, "kept", 1, op=None)]).withColumn(
        "_bucket", t._bucket_expr("conv_id", 4)
    )
    df.withColumn("_pb", F.col("_bucket")).write.partitionBy("_pb").parquet(
        _os.path.join(t.root, "data", rel)
    )
    added = t._scan_written(_os.path.join(t.root, "data", rel), rel, 4)
    t._write_commit(Commit(0, "b0", added, [], EVENT_SCHEMA.json()))
    assert [r.text for r in t.read().collect()] == ["kept"]
    assert [r.text for r in t.read_key("c1").collect()] == ["kept"]
    assert [r.text for r in t.read_range(ts(0), ts(2)).collect()] == ["kept"]


# ------------------------------------------------------------- job counts


def test_merge_and_compact_job_counts(spark, tmp_path):
    """One merge() is one delta write (2 jobs: the shuffle map stage and
    the write); one compact() of two buckets is 2 as well (the one
    placement exchange the LWW resolve shares, and the sorted write; the
    read schema comes from the log, not from a footer pass). A change that
    adds a pass to either fails here."""
    from tests.test_engine import _jobs_in_group

    t = LakeTable.create(spark, str(tmp_path / "jobs"), keys=["conv_id", "turn_idx"],
                         ts_col="ts", n_buckets=2)
    rows = [ev(f"c{i}", i % 3, f"t{i}", i) for i in range(40)]
    t.merge(edf(spark, rows[:20]), "b0")
    batch = edf(spark, rows[20:] + rows[:5])
    sc = spark.sparkContext

    def in_group(group, fn):
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    in_group("pin-merge", lambda: t.merge(batch, "b1"))
    c = in_group("pin-compact", lambda: t.compact(min_files_per_bucket=2))
    assert c is not None and {a["bucket"] for a in c.added} == {0, 1}
    assert _jobs_in_group(spark, "pin-merge") == 2
    assert _jobs_in_group(spark, "pin-compact") == 2


def test_read_path_job_counts(spark, tmp_path):
    """Spark jobs per read-side call on a 4-bucket table after two merges:
    the resolved scan (pruned or not), both lookups, the range read, the
    change feed, tombstone expiry and an initial and a partial MV
    refresh, plus an idle changes poll. Reads take their schema from the
    log (no footer-merge job), and an empty selection or an idle poll is
    an empty LocalRelation, so collecting it runs no job (a global
    ``count()`` over it still runs its one aggregate job). A read that
    plans an extra pass (or an empty selection that plans a resolve or
    opens a file) fails here.

    A refresh is one plan into one MV merge; every job is a stage of
    that write. Initial: the base's LWW resolve, the group aggregate, the
    merge's bucket placement and the write itself. Partial: the touched
    buckets' LWW resolve, the touched keys' distinct and their broadcast
    (both reused by the two semi-joins), the group aggregate, the MV's
    previous groups' LWW resolve, the two sides of the null-safe full
    outer join, the merge's bucket placement and the write."""
    from kafka_connect_fs_spark.plans.materialized import IncrementalRollup
    from tests.test_engine import _jobs_in_group

    t = LakeTable.create(spark, str(tmp_path / "jobs"), keys=["conv_id", "turn_idx"],
                         ts_col="ts", n_buckets=4)
    t.merge(edf(spark, [ev(f"c{i % 10}", i // 10, f"t{i}", i) for i in range(40)]), "b0")
    mv = IncrementalRollup(t, str(tmp_path / "mv"), group_cols=["conv_id"],
                           aggs={"n": F.count(F.lit(1))}, n_buckets=4)
    sc = spark.sparkContext

    def in_group(group, fn):
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    in_group("pin-refresh-initial", mv.refresh)
    t.merge(edf(spark, [ev("c1", 0, "new", 50), ev("c2", 0, None, 50, op="delete")]), "b1")
    in_group("pin-refresh-partial", mv.refresh)
    calls = {
        "pin-read": lambda: t.read().count(),
        "pin-read-columns": lambda: t.read(columns=["conv_id", "text"]).count(),
        "pin-read-key-hit": lambda: t.read_key("c1").collect(),
        "pin-read-key-absent": lambda: t.read_key("absent").collect(),
        "pin-read-range": lambda: t.read_range(ts(5), ts(30)).count(),
        "pin-read-changes": lambda: t.read_changes(0).count(),
        "pin-read-changes-idle": lambda: t.read_changes(t.latest_version()).collect(),
        "pin-read-changes-idle-count": lambda: t.read_changes(t.latest_version()).count(),
        "pin-expire": lambda: t.expire_tombstones(ts(1000)),
    }
    for group, fn in calls.items():
        in_group(group, fn)
    got = {g: _jobs_in_group(spark, g)
           for g in ["pin-refresh-initial", "pin-refresh-partial", *calls]}
    assert got == {
        "pin-refresh-initial": 4,
        "pin-refresh-partial": 9,
        "pin-read": 3,
        "pin-read-columns": 3,
        "pin-read-key-hit": 2,
        "pin-read-key-absent": 0,
        "pin-read-range": 3,
        "pin-read-changes": 2,
        "pin-read-changes-idle": 0,
        "pin-read-changes-idle-count": 1,
        "pin-expire": 4,
    }


def _write_stage_tasks(spark, group: str) -> int:
    """Tasks of the last stage of ``group``'s last job: a write's stage."""
    from tests.test_engine import _jobs_in_group

    assert _jobs_in_group(spark, group) > 0  # waits for the listener
    tracker = spark.sparkContext.statusTracker()
    job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    return tracker.getStageInfo(max(job.stageIds)).numTasks


def test_merge_writes_whole_buckets_on_one_task_per_slot(spark, tmp_path):
    """A 16-bucket merge on an 8-slot session runs 8 write tasks, each
    holding whole buckets, and still writes one file per touched bucket."""
    sc = spark.sparkContext
    assert sc.defaultParallelism == 8
    t = LakeTable.create(spark, str(tmp_path / "m"), keys=["conv_id", "turn_idx"],
                         ts_col="ts", n_buckets=16)
    rows = [ev(f"c{i}", i % 3, f"t{i}", i) for i in range(300)]
    sc.setLocalProperty("spark.jobGroup.id", "merge-tasks")
    try:
        c = t.merge(edf(spark, rows), "b0")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _write_stage_tasks(spark, "merge-tasks") == 8
    buckets = [a["bucket"] for a in c.added]
    assert sorted(buckets) == list(range(16))  # one file per bucket
    assert sorted((r.conv_id, r.turn_idx, r.text) for r in t.read().collect()) == sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in rows
    )


def test_compact_of_more_buckets_than_slots_writes_sorted_file_per_bucket(
    spark, tmp_path
):
    """compact() folds 16 buckets onto the session's 8 slots and still
    writes one file per bucket, each sorted by key."""
    import os as _os

    import pyarrow.parquet as pq

    t = LakeTable.create(spark, str(tmp_path / "c"), keys=["conv_id", "turn_idx"],
                         ts_col="ts", n_buckets=16)
    rows = [ev(f"c{i}", i % 4, f"t{i}", i) for i in range(300)]
    t.merge(edf(spark, rows[::-1]), "b0")
    t.merge(edf(spark, [ev(f"c{i}", i % 4, f"u{i}", 500 + i) for i in range(0, 300, 2)]), "b1")
    c = t.compact(min_files_per_bucket=2)
    assert c is not None
    assert sorted(a["bucket"] for a in c.added) == list(range(16))
    for a in c.added:
        tbl = pq.read_table(_os.path.join(t.root, "data", a["path"]),
                            columns=["conv_id", "turn_idx"])
        keys = list(zip(tbl["conv_id"].to_pylist(), tbl["turn_idx"].to_pylist()))
        assert keys == sorted(keys) and len(keys) == len(set(keys))
    final = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert final == {
        (f"c{i}", i % 4): (f"u{i}" if i % 2 == 0 else f"t{i}") for i in range(300)
    }


def test_offsets_fold_extends_the_head_in_place(spark, tmp_path):
    """A replay to the head folds new commits' offsets into the stream's
    map in place, so a commit costs O(files it touches), not a copy of
    every tracked path. A replay to an older version starting from the
    same cached state copies what it changes and leaves the head's map
    alone."""
    from kafka_connect_fs_spark.plans.lake import Commit, offsets_metadata, stream_batch_id

    root = str(tmp_path / "ip")
    t = LakeTable.create(spark, root, keys=["k"], ts_col="ts", n_buckets=4)

    def commit(table, v, off):
        w = {"path": "/f", "committed_offset": off, "file_size": off, "eof": False}
        table._write_commit(Commit(
            version=v, batch_id=stream_batch_id("a-", v), added=[], removed=[],
            schema_json=None, app_metadata=offsets_metadata([w]),
        ))

    commit(t, 0, 1)
    files = t._state_full().streams["a-"]["files"]
    commit(LakeTable(spark, root), 1, 2)  # another process's commit
    commit(LakeTable(spark, root), 2, 3)
    old = t._state_full(at_version=1).streams["a-"]["files"]
    assert old is not files and old["/f"]["committed_offset"] == 2
    assert files["/f"]["committed_offset"] == 1
    assert t._state_full().streams["a-"]["files"] is files
    assert files["/f"]["committed_offset"] == 3
    assert t._state_full(at_version=1).streams["a-"]["files"]["/f"]["committed_offset"] == 2
