"""Discovery (PolicyTestBase analog) + trigger policy tests."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from kafka_connect_fs_spark.sources.discovery import expand_dynamic_uri, list_files
from kafka_connect_fs_spark.sources.watermarks import WatermarkStore
from kafka_connect_fs_spark.streaming.triggers import Cron, CronPolicy, SimplePolicy, SleepyPolicy


def touch(p, content="x"):
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        f.write(content)


# --------------------------------------------------------------- discovery


def test_regex_filters_file_name_not_path(tmp_path):
    """AbstractPolicy.java:171 matches the *name*; a regex matching only the
    directory must not select the file."""
    touch(str(tmp_path / "match_dir" / "other.txt"))
    touch(str(tmp_path / "sub" / "match_file.txt"))
    found = [f.path for f in list_files(str(tmp_path), regexp="match")]
    assert found == [str(tmp_path / "sub" / "match_file.txt")]


def test_recursive_vs_flat(tmp_path):
    touch(str(tmp_path / "a.txt"))
    touch(str(tmp_path / "deep" / "b.txt"))
    assert len(list_files(str(tmp_path), recursive=True)) == 2
    assert len(list_files(str(tmp_path), recursive=False)) == 1


def test_listing_is_sorted_and_has_sizes(tmp_path):
    touch(str(tmp_path / "b.txt"), "bb")
    touch(str(tmp_path / "a.txt"), "aaaa")
    fs = list_files(str(tmp_path))
    assert [os.path.basename(f.path) for f in fs] == ["a.txt", "b.txt"]
    assert [f.length for f in fs] == [4, 2]


def test_dynamic_uri_expansion(tmp_path):
    """AbstractPolicy.java:94-110 ${yyyy}/${MM}/${dd} templating."""
    now = dt.datetime(2024, 3, 7, 15, 42)
    assert (
        expand_dynamic_uri("/data/${yyyy}/${MM}/${dd}", now) == "/data/2024/03/07"
    )
    assert expand_dynamic_uri("/data/${yyyy}-${MM}", now) == "/data/2024-03"
    with pytest.raises(ValueError):
        expand_dynamic_uri("/data/${bogus pattern!}", now)


def test_missing_uri_lists_empty(tmp_path):
    assert list_files(str(tmp_path / "nope")) == []


# --------------------------------------------------------------- watermarks


def _store(spark, root, stream="s-"):
    """The offsets view of ``stream`` over a (new or existing) lake table."""
    from kafka_connect_fs_spark.plans.lake import LakeTable

    lake = (LakeTable(spark, root) if LakeTable.exists(root) else
            LakeTable.create(spark, root, keys=["k"], ts_col="ts"))
    return WatermarkStore(lake, stream)


def test_watermark_commit_and_reload(spark, tmp_path):
    wm = _store(spark, str(tmp_path / "t"))
    assert wm.last_seq() == -1 and wm.load().count() == 0
    wm.commit(
        [{"path": "/f1", "committed_offset": 10, "file_size": 20, "eof": False}], 0
    )
    wm.commit(
        [
            {"path": "/f1", "committed_offset": 20, "file_size": 20, "eof": True},
            {"path": "/f2", "committed_offset": 5, "file_size": 5, "eof": True},
        ],
        1,
    )
    assert wm.last_seq() == 1
    rows = {r.path: (r.committed_offset, r.eof) for r in wm.load().collect()}
    assert rows == {"/f1": (20, True), "/f2": (5, True)}
    # each stream folds only its own commits
    other = _store(spark, str(tmp_path / "t"), stream="other-")
    assert other.last_seq() == -1 and other.load_dict() == {}


def test_watermark_remove_paths(spark, tmp_path):
    wm = _store(spark, str(tmp_path / "t"))
    wm.commit([{"path": "/f1", "committed_offset": 1, "file_size": 1, "eof": True}], 0)
    wm.commit([], 1, removed_paths=["/f1"])
    assert wm.load().count() == 0


def test_watermark_failed_commit_leaves_cache_matching_disk(spark, tmp_path, monkeypatch):
    """A commit that dies before its log entry is durable must not leak its
    updates/removals into the in-process view — the daemon keeps running
    after a failed batch (engine.run catches and continues), and a diverged
    view would serve never-committed offsets until restart."""
    import kafka_connect_fs_spark.plans.lake as lake_mod

    wm = _store(spark, str(tmp_path / "t"))
    wm.commit(
        [
            {"path": "/f1", "committed_offset": 10, "file_size": 20, "eof": False},
            {"path": "/f2", "committed_offset": 5, "file_size": 5, "eof": True},
        ],
        0,
    )
    before = {p: dict(r) for p, r in wm.load_dict().items()}

    def boom(*a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(lake_mod.os, "link", boom)
    with pytest.raises(OSError):
        wm.commit(
            [{"path": "/f1", "committed_offset": 20, "file_size": 20, "eof": True}],
            1,
            removed_paths=["/f2"],
        )
    monkeypatch.undo()

    after = {p: dict(r) for p, r in wm.load_dict().items()}
    assert after == before  # in-process view still matches durable state
    assert wm.last_seq() == 0
    # a fresh view (process restart) agrees
    fresh = _store(spark, str(tmp_path / "t"))
    assert {p: dict(r) for p, r in fresh.load_dict().items()} == before
    # and the store still works after the failure
    wm.commit(
        [{"path": "/f1", "committed_offset": 20, "file_size": 20, "eof": True}], 1
    )
    assert wm.load_dict()["/f1"]["committed_offset"] == 20


# ----------------------------------------------------------------- triggers


def test_simple_policy_one_shot():
    assert list(SimplePolicy().triggers()) == [0]


def test_sleepy_policy_max_execs():
    p = SleepyPolicy(sleep_s=0.01, max_execs=3)
    assert list(p.triggers()) == [0, 1, 2]


def test_sleepy_policy_interrupt():
    p = SleepyPolicy(sleep_s=10, max_execs=-1)
    seen = []
    for n in p.triggers():
        seen.append(n)
        p.interrupt()
    assert seen == [0]


def test_cron_next_fire():
    c = Cron("*/15 3 * * *")
    nxt = c.next_fire(dt.datetime(2024, 5, 1, 2, 59))
    assert nxt == dt.datetime(2024, 5, 1, 3, 0)
    assert c.next_fire(nxt) == dt.datetime(2024, 5, 1, 3, 15)
    c2 = Cron("0 0 1 * *")  # midnight on the 1st
    assert c2.next_fire(dt.datetime(2024, 5, 15)) == dt.datetime(2024, 6, 1)


def test_cron_policy_fires_until_end_date():
    clock_state = {"now": dt.datetime(2024, 1, 1, 0, 0, 30)}
    slept = []

    def sleeper(s):
        slept.append(s)
        clock_state["now"] += dt.timedelta(seconds=s)

    p = CronPolicy(
        "* * * * *",  # every minute
        end_date=dt.datetime(2024, 1, 1, 0, 3),
        clock=lambda: clock_state["now"],
        sleeper=sleeper,
    )
    fires = list(p.triggers())
    assert len(fires) == 3  # 0:01, 0:02, 0:03 then past end_date
    # sleeps are CHUNKED (≤1s) so interrupt() is honored promptly even for
    # fires hours away; total slept time still spans exactly the schedule
    assert all(s <= 1.0 for s in slept)
    assert sum(slept) == 30.0 + 60.0 + 60.0


def test_cron_invalid_expr():
    with pytest.raises(ValueError):
        Cron("* * *")


def test_hidden_files_and_staging_dirs_skipped(tmp_path):
    """Hadoop/Spark convention: _SUCCESS, .crc, and anything under a
    '_temporary'/'.staging' dir is metadata, not data."""
    touch(str(tmp_path / "data.jsonl"))
    touch(str(tmp_path / "_SUCCESS"))
    touch(str(tmp_path / ".data.jsonl.crc"))
    touch(str(tmp_path / "_temporary" / "0" / "attempt_0" / "part-00000.jsonl"))
    found = [os.path.basename(f.path) for f in list_files(str(tmp_path))]
    assert found == ["data.jsonl"]
    all_found = {os.path.basename(f.path) for f in list_files(str(tmp_path), include_hidden=True)}
    assert "part-00000.jsonl" in all_found and "_SUCCESS" in all_found


def test_cron_vixie_day_or_rule():
    """When BOTH day fields are restricted, standard (Vixie) cron fires
    when EITHER matches: '0 0 13 * 5' = the 13th OR any Friday."""
    c = Cron("0 0 13 * 5")
    assert c.matches(dt.datetime(2024, 5, 13, 0, 0))  # a Monday the 13th
    assert c.matches(dt.datetime(2024, 5, 17, 0, 0))  # a Friday the 17th
    assert not c.matches(dt.datetime(2024, 5, 14, 0, 0))  # Tuesday the 14th
    # single-restricted fields keep AND semantics
    c2 = Cron("0 0 13 * *")
    assert c2.matches(dt.datetime(2024, 5, 13, 0, 0))
    assert not c2.matches(dt.datetime(2024, 5, 17, 0, 0))
    c3 = Cron("0 0 * * 5")
    assert c3.matches(dt.datetime(2024, 5, 17, 0, 0))
    assert not c3.matches(dt.datetime(2024, 5, 13, 0, 0))
