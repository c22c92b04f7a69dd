"""IncrementalRollup: CDF-driven materialized-view maintenance.

The invariant under test everywhere: after any refresh, the MV equals a
FULL recompute of the same aggregates over ``base.read()`` — while the
refresh itself read only the touched buckets' files (asserted via
RefreshStats), which is what makes it incremental at scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_connect_fs_spark.plans.lake import LakeTable
from kafka_connect_fs_spark.plans.materialized import IncrementalRollup

from tests.test_lake import edf, ev, ts  # noqa: F401  (shared event builders)

AGGS = lambda: {  # noqa: E731 - fresh Columns per test
    "n_turns": F.count(F.lit(1)),
    "total_chars": F.sum(F.length("text")),
    "last_ts": F.max("ts"),
}


@pytest.fixture()
def base(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "base"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=4,
    )


def mv_of(base, tmp_path):
    return IncrementalRollup(
        base, str(tmp_path / "mv"), group_cols=["conv_id"], aggs=AGGS(),
        n_buckets=4,
    )


def full_recompute(base):
    return (
        base.read()
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("total_chars"),
            F.max("ts").alias("last_ts"),
        )
    )


def assert_mv_equals_full(mv, base):
    # repr sorts a NULL conv_id next to strings
    got = sorted(
        ((r.conv_id, r.n_turns, r.total_chars, r.last_ts)
         for r in mv.read().select(
             "conv_id", "n_turns", "total_chars", "last_ts"
         ).collect()),
        key=repr,
    )
    want = sorted(
        ((r.conv_id, r.n_turns, r.total_chars, r.last_ts)
         for r in full_recompute(base).collect()),
        key=repr,
    )
    assert got == want


def seed(spark, base, n_convs=8, turns=3):
    rows = [
        ev(f"c{c}", t, f"text-{c}-{t}", c * 100 + t)
        for c in range(n_convs)
        for t in range(turns)
    ]
    base.merge(edf(spark, rows), "b1")


def test_initial_build_equals_full_recompute(spark, base, tmp_path):
    seed(spark, base)
    mv = mv_of(base, tmp_path)
    st = mv.refresh()
    assert not st.partial and st.n_files_read == st.n_live_files
    assert mv.refreshed_version() == base.latest_version()
    assert_mv_equals_full(mv, base)


def test_incremental_refresh_touches_only_changed_buckets(spark, base, tmp_path):
    seed(spark, base, n_convs=16)
    mv = mv_of(base, tmp_path)
    mv.refresh()
    # batch 2 touches ONE conversation: a new turn plus a turn rewrite
    base.merge(
        edf(spark, [ev("c3", 9, "late-turn", 5000), ev("c3", 0, "rewritten", 5001)]),
        "b2",
    )
    st = mv.refresh()
    assert st.partial
    # only c3's bucket's files were read — strictly fewer than live
    assert 0 < st.n_files_read < st.n_live_files
    assert st.n_groups_refreshed == 1 and st.n_groups_deleted == 0
    assert_mv_equals_full(mv, base)
    # untouched conversations kept their original MV rows
    row = {r.conv_id: r for r in mv.read().collect()}
    assert row["c3"].n_turns == 4  # 3 seeded + 1 late (rewrite replaces)
    assert row["c0"].n_turns == 3


def test_upsert_rewrite_does_not_double_count(spark, base, tmp_path):
    """The reason partial-recompute (not delta-addition) is the right IVM
    shape here: an upsert REPLACES a prior row version under LWW."""
    seed(spark, base, n_convs=2)
    mv = mv_of(base, tmp_path)
    mv.refresh()
    base.merge(edf(spark, [ev("c1", 0, "longer-replacement-text", 9000)]), "b2")
    mv.refresh()
    row = {r.conv_id: r for r in mv.read().collect()}
    assert row["c1"].n_turns == 3  # still 3 turns, not 4
    assert_mv_equals_full(mv, base)


def test_full_conversation_delete_tombstones_mv_row(spark, base, tmp_path):
    seed(spark, base, n_convs=4)
    mv = mv_of(base, tmp_path)
    mv.refresh()
    deletes = [
        ev("c2", t, None, 9000 + t, op="delete") for t in range(3)
    ]
    base.merge(edf(spark, deletes), "b2")
    st = mv.refresh()
    assert st.n_groups_deleted == 1
    assert "c2" not in {r.conv_id for r in mv.read().collect()}
    assert_mv_equals_full(mv, base)


def test_partial_conversation_delete_recomputes_group(spark, base, tmp_path):
    seed(spark, base, n_convs=4)
    mv = mv_of(base, tmp_path)
    mv.refresh()
    base.merge(edf(spark, [ev("c2", 0, None, 9000, op="delete")]), "b2")
    st = mv.refresh()
    assert st.n_groups_deleted == 0
    row = {r.conv_id: r for r in mv.read().collect()}
    assert row["c2"].n_turns == 2
    assert_mv_equals_full(mv, base)


def test_refresh_is_idempotent_and_noop_when_current(spark, base, tmp_path):
    seed(spark, base)
    mv = mv_of(base, tmp_path)
    mv.refresh()
    v = mv.table.latest_version()
    st = mv.refresh()  # nothing new
    assert st.noop and mv.table.latest_version() == v
    # crashed-caller replay: the SAME window merges under the same
    # batch_id — the lake's replay guard makes it a no-op
    base.merge(edf(spark, [ev("c0", 9, "x", 9000)]), "b2")
    st1 = mv.refresh()
    assert not st1.noop
    mv2 = mv_of(base, tmp_path)  # fresh handle, same roots
    st2 = mv2.refresh()
    assert st2.noop
    assert_mv_equals_full(mv2, base)


def test_refresh_to_version_then_head(spark, base, tmp_path):
    """Catch-up in steps: refresh pinned at batch 1's version, then to
    head — the second refresh absorbs exactly the later window."""
    seed(spark, base, n_convs=6)
    v1 = base.latest_version()
    base.merge(edf(spark, [ev("c5", 9, "late", 9000)]), "b2")
    mv = mv_of(base, tmp_path)
    st1 = mv.refresh(to_version=v1)
    assert mv.refreshed_version() == v1 and not st1.partial
    assert mv.lag() == base.latest_version() - v1
    st2 = mv.refresh()
    assert st2.partial and st2.from_version == v1
    assert mv.lag() == 0
    assert_mv_equals_full(mv, base)


def test_maintenance_only_window_is_noop(spark, base, tmp_path):
    seed(spark, base)
    mv = mv_of(base, tmp_path)
    mv.refresh()
    # maintenance commit: physical rewrite, no logical changes
    assert base.compact(min_files_per_bucket=1) is not None
    assert base.latest_version() > mv.refreshed_version()
    st = mv.refresh()
    assert st.noop and st.n_files_read == 0
    assert_mv_equals_full(mv, base)


def test_refresh_across_bucket_spec_evolution(spark, base, tmp_path):
    """Mid-migration (files under two schemes) the touched-bucket set is
    computed per live scheme — the refresh stays correct."""
    seed(spark, base, n_convs=8)
    mv = mv_of(base, tmp_path)
    mv.refresh()
    base.set_n_buckets(8)
    base.merge(edf(spark, [ev("c1", 9, "post-evolution", 9000)]), "b2")
    live, _, _ = base._state()
    assert len({a.get("scheme", 4) for a in live.values()}) > 1  # mixed
    st = mv.refresh()
    assert st.partial and st.n_files_read < st.n_live_files
    assert_mv_equals_full(mv, base)


def test_group_cols_must_start_with_bucket_key(spark, base, tmp_path):
    with pytest.raises(ValueError, match="bucket key"):
        IncrementalRollup(
            base, str(tmp_path / "mv"), group_cols=["role"], aggs=AGGS()
        )


def test_property_any_change_sequence_matches_full_recompute(
    spark, tmp_path_factory
):
    """Hypothesis: for ANY sequence of upsert/delete events over a small
    key space, ANY batch split, and ANY refresh cadence (refresh after
    any subset of batches, final refresh always), the MV equals the full
    recompute over base.read() — including groups that appear, mutate,
    and vanish across windows."""
    import datetime as dt

    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    BASE = dt.datetime(2024, 1, 1)

    event_st = st.fixed_dictionaries(
        {
            "op": st.sampled_from(["upsert", "upsert", "upsert", "delete"]),
            # None: a NULL bucket key is a group like any other
            "conv": st.sampled_from(["c0", "c1", "c2", None]),
            "turn": st.integers(0, 2),
            "text": st.text(alphabet="abcxyz ", min_size=0, max_size=10),
            # coarse ts pool → ties; determinism comes from the per-row
            # _src_offset tie-break below
            "sec": st.integers(0, 5),
        }
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.lists(event_st, min_size=1, max_size=24),
        splits=st.tuples(st.integers(0, 24), st.integers(0, 24)),
        refresh_mid=st.booleans(),
    )
    # a live NULL-key group touched by a partial refresh
    @example(
        rows=[
            {"op": "upsert", "conv": c, "turn": t, "text": "a", "sec": i}
            for i, (c, t) in enumerate([("c0", 0), (None, 0), (None, 1), (None, 2)])
        ],
        splits=(3, 4),
        refresh_mid=True,
    )
    def prop(rows, splits, refresh_mid):
        from pyspark.sql import Row

        tmp = tmp_path_factory.mktemp("mvprop")
        base_t = LakeTable.create(
            spark, str(tmp / "base"), keys=["conv_id", "turn_idx"],
            ts_col="ts", n_buckets=2,
        )
        mv = IncrementalRollup(
            base_t, str(tmp / "mv"), group_cols=["conv_id"], aggs=AGGS(),
            n_buckets=2,
        )
        rws = [
            Row(
                conv_id=r["conv"], turn_idx=r["turn"], role="user",
                text=None if r["op"] == "delete" else r["text"], tool=None,
                ts=BASE + dt.timedelta(seconds=r["sec"]), op=r["op"],
                _src_file="f", _src_offset=i,
            )
            for i, r in enumerate(rows)
        ]
        a, b = sorted(min(s, len(rws)) for s in splits)
        for bi, batch in enumerate((rws[:a], rws[a:b], rws[b:])):
            if not batch:
                continue
            base_t.merge(edf(spark, batch), f"b{bi}")
            if refresh_mid:
                mv.refresh()
        mv.refresh()
        assert_mv_equals_full(mv, base_t)

    prop()


def test_failed_partial_refresh_releases_cached_frames(spark, base, tmp_path):
    """A failed partial refresh leaves no cached blocks behind, or every
    failed refresh of a long-running tailer would leak them. The refresh
    is one plan and caches nothing; this keeps it so."""
    base.merge(edf(spark, [ev("c1", 0, "a", 1), ev("c2", 0, "b", 1)]), "b1")
    mv = mv_of(base, tmp_path)
    mv.refresh()
    base.merge(edf(spark, [ev("c1", 1, "x", 2), ev("c2", 0, "", 3, op="delete")]), "b2")

    def failing_merge(*a, **kw):
        raise RuntimeError("injected MV merge failure")

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    mv.table.merge = failing_merge
    with pytest.raises(RuntimeError, match="injected"):
        mv.refresh()
    assert jsc.getPersistentRDDs().size() == before
    del mv.table.merge
    mv.refresh()
    assert_mv_equals_full(mv, base)


def test_payload_group_column_tracks_rows_moving_between_groups(
    spark, base, tmp_path
):
    """Grouping by a PAYLOAD column (conv_id, role): an upsert that
    changes a turn's role moves the row to a new group — the old group
    must be recomputed (or tombstoned when emptied), which is exactly
    what deriving touched groups from the change feed's new values would
    miss."""
    from pyspark.sql import Row

    def mk(conv, turn, role, text, t):
        return Row(conv_id=conv, turn_idx=turn, role=role, text=text,
                   tool=None, ts=ts(t), op="upsert", _src_file="f",
                   _src_offset=t)

    base.merge(edf(spark, [
        mk("c1", 0, "user", "u0", 1),
        mk("c1", 1, "tool", "t1", 2),   # the ONLY tool turn
        mk("c2", 0, "user", "u0", 3),
    ]), "b1")
    mv = IncrementalRollup(
        base, str(tmp_path / "mv"), group_cols=["conv_id", "role"],
        aggs={"n": F.count(F.lit(1))}, n_buckets=4,
    )
    mv.refresh()
    got = {(r.conv_id, r.role): r.n for r in mv.read().collect()}
    assert got == {("c1", "user"): 1, ("c1", "tool"): 1, ("c2", "user"): 1}

    # rewrite c1 turn 1 from role=tool to role=user: (c1, tool) empties
    base.merge(edf(spark, [mk("c1", 1, "user", "t1-fixed", 50)]), "b2")
    st = mv.refresh()
    assert st.partial and st.n_groups_deleted == 1  # (c1, tool) tombstoned
    got = {(r.conv_id, r.role): r.n for r in mv.read().collect()}
    assert got == {("c1", "user"): 2, ("c2", "user"): 1}

    # a delete-only window must also work (tombstones carry keys only)
    base.merge(edf(spark, [
        Row(conv_id="c2", turn_idx=0, role=None, text=None, tool=None,
            ts=ts(99), op="delete", _src_file="f", _src_offset=99),
    ]), "b3")
    st = mv.refresh()
    assert st.n_groups_deleted == 1  # (c2, user) gone
    got = {(r.conv_id, r.role): r.n for r in mv.read().collect()}
    assert got == {("c1", "user"): 2}


def test_reopen_with_mismatched_group_cols_rejected(spark, tmp_path):
    """A tailer restarted with different --group-cols against the old
    --mv root must fail loudly, not merge differently-keyed rows."""
    base_t = LakeTable.create(
        spark, str(tmp_path / "b2"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=4,
    )
    IncrementalRollup(
        base_t, str(tmp_path / "mv"), group_cols=["conv_id", "turn_idx"],
        aggs=AGGS(),
    )
    with pytest.raises(ValueError, match="does not match group_cols"):
        IncrementalRollup(
            base_t, str(tmp_path / "mv"), group_cols=["conv_id"], aggs=AGGS()
        )


def test_derived_day_window_rollup_tracks_ts_moves(spark, base, tmp_path):
    """Time-window MV: group by (conv_id, day) with day derived from ts.
    A ts rewrite moving a turn to another day must recompute the old day
    group — and tombstone it when it empties."""
    import datetime as dt

    from pyspark.sql import Row

    def mk(conv, turn, text, day, sec):
        return Row(conv_id=conv, turn_idx=turn, role="user", text=text,
                   tool=None,
                   ts=dt.datetime(2024, 1, day) + dt.timedelta(seconds=sec),
                   op="upsert", _src_file="f", _src_offset=sec)

    base.merge(edf(spark, [
        mk("c1", 0, "d1-only", 1, 1),     # the ONLY Jan-1 turn
        mk("c1", 1, "d2-a", 2, 2),
        mk("c2", 0, "d2-b", 2, 3),
    ]), "b1")
    mv = IncrementalRollup(
        base, str(tmp_path / "mv"), group_cols=["conv_id", "day"],
        aggs={"n": F.count(F.lit(1))},
        derived={"day": F.to_date("ts")}, n_buckets=4,
    )
    mv.refresh()
    got = {(r.conv_id, str(r.day)): r.n for r in mv.read().collect()}
    assert got == {("c1", "2024-01-01"): 1, ("c1", "2024-01-02"): 1,
                   ("c2", "2024-01-02"): 1}

    # move c1 turn 0 from Jan 1 to Jan 3: the Jan-1 group empties
    base.merge(edf(spark, [mk("c1", 0, "moved", 3, 100)]), "b2")
    st = mv.refresh()
    assert st.partial and st.n_groups_deleted == 1
    got = {(r.conv_id, str(r.day)): r.n for r in mv.read().collect()}
    assert got == {("c1", "2024-01-02"): 1, ("c1", "2024-01-03"): 1,
                   ("c2", "2024-01-02"): 1}

    with pytest.raises(ValueError, match="cannot be a derived"):
        IncrementalRollup(
            base, str(tmp_path / "mv2"), group_cols=["conv_id"],
            aggs={"n": F.count(F.lit(1))},
            derived={"conv_id": F.upper("conv_id")},
        )


def test_gone_group_read_is_bucket_pruned(spark, base, tmp_path):
    """Gone-group detection must read only the MV files of the buckets the
    touched keys hash to, not the whole MV — at 10^8 groups the full-MV
    scan per refresh cycle was the remaining O(table) term."""
    seed(spark, base, n_convs=16)
    mv = mv_of(base, tmp_path)
    mv.refresh()
    touched = spark.createDataFrame([("c3",)], "conv_id string")
    prev = mv._read_prev_groups(touched)
    opened = set(prev.inputFiles())
    live, _, _ = mv.table._state()
    assert 0 < len(opened) < len(live), (len(opened), len(live))
    # the pruned read still surfaces the touched key's previous group
    assert "c3" in {r.conv_id for r in prev.collect()}
    # and an end-to-end refresh over a touched key stays correct
    base.merge(edf(spark, [ev("c3", 9, "late", 9000)]), "b2")
    st = mv.refresh()
    assert st.partial
    assert_mv_equals_full(mv, base)


def test_prev_group_scan_reads_only_group_columns(spark, base, tmp_path):
    """The previous groups only meet the recomputed ones in a join on the
    group columns: their parquet scan must not read (and LWW-pack) any
    aggregate column."""
    seed(spark, base)
    mv = mv_of(base, tmp_path)
    mv.refresh()
    touched = spark.createDataFrame([("c3",)], "conv_id string")
    prev = mv._read_prev_groups(touched)
    plan = prev._jdf.queryExecution().executedPlan().toString()
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas, plan
    for ln in read_schemas:
        assert not any(a in ln for a in AGGS()), ln


def test_null_payload_group_survives_refresh(spark, base, tmp_path):
    """A group with NULL in a payload group column must match its own
    recomputed row (null-safe equality): with plain equality it was
    classified gone on every refresh, merging a delete AND an upsert at
    the same mv_version — an arbitrary LWW winner that could
    nondeterministically drop the live group."""
    from pyspark.sql import Row

    def mk(conv, turn, role, t):
        return Row(conv_id=conv, turn_idx=turn, role=role, text="x",
                   tool=None, ts=ts(t), op="upsert", _src_file="f",
                   _src_offset=t)

    base.merge(edf(spark, [
        mk("c1", 0, None, 1),    # NULL-role group
        mk("c1", 1, "user", 2),
    ]), "b1")
    mv = IncrementalRollup(
        base, str(tmp_path / "mv"), group_cols=["conv_id", "role"],
        aggs={"n": F.count(F.lit(1))}, n_buckets=4,
    )
    mv.refresh()
    # touch the same conversation repeatedly: each refresh re-evaluates
    # the NULL-role group; it must never be tombstoned while live
    for i in range(3):
        base.merge(edf(spark, [mk("c1", 1, "user", 100 + i)]), f"b{2 + i}")
        st = mv.refresh()
        assert st.n_groups_deleted == 0, f"round {i}: live NULL group deleted"
        got = {(r.conv_id, r.role): r.n for r in mv.read().collect()}
        assert got == {("c1", None): 1, ("c1", "user"): 1}


def test_null_bucket_key_group_survives_partial_refresh(spark, base, tmp_path):
    """A NULL bucket key must match itself on both sides of a partial
    refresh: the recompute once dropped NULL keys (plain equality) while
    the previous groups matched them null-safely, so a live NULL group was
    tombstoned as gone."""
    base.merge(edf(spark, [ev("c1", 0, "a", 1), ev(None, 0, "n0", 2),
                           ev(None, 1, "n1", 3)]), "b1")
    mv = mv_of(base, tmp_path)
    mv.refresh()
    base.merge(edf(spark, [ev(None, 2, "n2", 4)]), "b2")
    st = mv.refresh()
    assert st.partial and st.n_groups_deleted == 0
    assert st.n_groups_refreshed == 1
    assert {r.conv_id: r.n_turns for r in mv.read().collect()} == {"c1": 1, None: 3}
    assert_mv_equals_full(mv, base)


def test_replayed_refresh_reads_delete_count_from_the_log(
    spark, base, tmp_path, monkeypatch
):
    """Two tailers on one window: the second still sees the pre-refresh
    version, so its MV merge hits the batch_id replay guard. It writes
    nothing and reports the first run's delete count from the commit's
    app-metadata; it never reads the Observation of a write that did not
    run (``get`` would wait for it)."""
    from kafka_connect_fs_spark.plans import materialized

    seed(spark, base, n_convs=4)
    mv = mv_of(base, tmp_path)
    mv.refresh()
    before = mv.refreshed_version()
    base.merge(edf(spark, [ev("c2", t, None, 9000 + t, op="delete")
                           for t in range(3)]), "b2")
    second = mv_of(base, tmp_path)
    monkeypatch.setattr(second, "refreshed_version", lambda: before)
    first = mv.refresh()
    assert first.n_groups_deleted == 1
    v = mv.table.latest_version()
    assert mv.table.commits()[-1].app_metadata["mv_groups_deleted"] == 1

    class Unread(materialized.Observation):
        @property
        def get(self):
            raise AssertionError("a replayed refresh read an Observation")

    monkeypatch.setattr(materialized, "Observation", Unread)
    again = second.refresh()
    assert (again.from_version, again.to_version) == (first.from_version, first.to_version)
    assert again.n_groups_deleted == 1
    assert again.n_groups_refreshed == first.n_groups_refreshed
    assert mv.table.latest_version() == v
    assert_mv_equals_full(mv, base)
