"""S3 event-notification discovery — fixture tests mirroring the
reference's mocked-SQS suite (S3EventNotificationsPolicyTest.java):
direct + SNS-wrapped payloads, event-name regex (full-match), bucket
filtering, vanished objects, message acknowledgment, and an end-to-end
engine run discovered purely by events."""

from __future__ import annotations

import json
import os

from kafka_connect_fs_spark.sources.discovery import FileMeta
from kafka_connect_fs_spark.sources.s3_events import (
    QueueMessage,
    S3EventNotificationsPolicy,
    parse_event_message,
)


def s3_event_body(bucket: str, key: str, event: str = "ObjectCreated:Put") -> str:
    return json.dumps(
        {
            "Records": [
                {
                    "eventVersion": "2.1",
                    "eventSource": "aws:s3",
                    "eventName": event,
                    "s3": {
                        "bucket": {"name": bucket},
                        "object": {"key": key, "size": 7},
                    },
                }
            ]
        }
    )


def sns_wrap(inner: str) -> str:
    return json.dumps({"Type": "Notification", "Message": inner})


class FakeQueue:
    def __init__(self, bodies: list[str]):
        self.messages = [
            QueueMessage(f"m{i}", f"rh{i}", b) for i, b in enumerate(bodies)
        ]
        self.deleted: list[str] = []

    def receive_messages(self):
        return [m for m in self.messages if m.receipt_handle not in self.deleted]

    def delete_message(self, receipt_handle):
        self.deleted.append(receipt_handle)


def fake_stat(sizes: dict):
    return lambda uri: (
        FileMeta(uri, sizes[uri], 1.0) if uri in sizes else None
    )


def test_parse_direct_and_sns_wrapped_and_garbage():
    direct = QueueMessage("m1", "r1", s3_event_body("b", "data/a.jsonl"))
    assert [(r.bucket, r.key, r.event_name) for r in parse_event_message(direct)] == [
        ("b", "data/a.jsonl", "ObjectCreated:Put")
    ]
    wrapped = QueueMessage("m2", "r2", sns_wrap(s3_event_body("b", "k")))
    assert parse_event_message(wrapped)[0].key == "k"
    assert parse_event_message(QueueMessage("m3", "r3", "not json {{")) == []
    assert parse_event_message(QueueMessage("m4", "r4", json.dumps({"x": 1}))) == []


def test_event_regex_is_full_match_and_bucket_filtered():
    q = FakeQueue(
        [
            s3_event_body("bucket-a", "keep.jsonl", "ObjectCreated:Put"),
            s3_event_body("bucket-a", "gone.jsonl", "ObjectRemoved:Delete"),
            s3_event_body("other-bucket", "foreign.jsonl", "ObjectCreated:Put"),
            # 'Created' alone must NOT match 'ObjectCreated:.*' (full match,
            # Java String.matches semantics — not .find())
            s3_event_body("bucket-a", "partial.jsonl", "Created"),
        ]
    )
    sizes = {
        "s3://bucket-a/keep.jsonl": 11,
        "s3://bucket-a/gone.jsonl": 11,
        "s3://other-bucket/foreign.jsonl": 11,
        "s3://bucket-a/partial.jsonl": 11,
    }
    pol = S3EventNotificationsPolicy(
        q, "s3://bucket-a/data", event_regex="ObjectCreated:.*", stat_fn=fake_stat(sizes)
    )
    got = pol.poll()
    assert [f.path for f in got] == ["s3://bucket-a/keep.jsonl"]
    assert got[0].length == 11
    # every message acknowledged (filtered ones too, or they redeliver forever)
    assert len(q.deleted) == 4
    assert pol.poll() == []  # queue drained


def test_vanished_object_skipped_but_acknowledged():
    q = FakeQueue([s3_event_body("b", "vanished.jsonl")])
    pol = S3EventNotificationsPolicy(q, "s3://b", stat_fn=fake_stat({}))
    assert pol.poll() == []
    assert q.deleted == ["rh0"]


def test_delete_messages_false_retains():
    q = FakeQueue([s3_event_body("b", "a.jsonl")])
    pol = S3EventNotificationsPolicy(
        q, "s3://b", delete_messages=False,
        stat_fn=fake_stat({"s3://b/a.jsonl": 5}),
    )
    assert [f.path for f in pol.poll()] == ["s3://b/a.jsonl"]
    assert q.deleted == []
    # redelivery: at-least-once queues re-offer; discovery re-lists it
    assert [f.path for f in pol.poll()] == ["s3://b/a.jsonl"]


def test_engine_ingests_from_event_discovery(spark, tmp_path):
    """E2E: files announced ONLY via events (no directory sweep) flow
    through the engine; the watermark anti-join absorbs event redelivery."""
    from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine
    from kafka_connect_fs_spark.testing.generator import (
        CHANGE_EVENT_SCHEMA,
        expected_final_state,
        transcript_change_events,
        write_jsonl,
    )

    bucket_dir = tmp_path / "bucket"
    os.makedirs(bucket_dir)
    rows = transcript_change_events(4, 3)
    write_jsonl(rows[: len(rows) // 2], str(bucket_dir / "a.jsonl"))
    write_jsonl(rows[len(rows) // 2 :], str(bucket_dir / "b.jsonl"))

    bucket = str(bucket_dir)  # local-fs "bucket": file://<dir>
    q = FakeQueue(
        [
            s3_event_body(bucket, "a.jsonl"),
            sns_wrap(s3_event_body(bucket, "b.jsonl")),
            s3_event_body(bucket, "a.jsonl"),  # duplicate delivery
        ]
    )
    pol = S3EventNotificationsPolicy(
        q, f"file://{bucket}", event_regex="ObjectCreated:.*"
    )
    engine = IngestEngine(
        spark,
        IngestConfig(
            uris=[],  # discovery is fully event-driven
            table_root=str(tmp_path / "table"),
            checkpoint_root=str(tmp_path / "ckpt"),
            fmt="jsonl",
            schema=CHANGE_EVENT_SCHEMA,
            n_buckets=4,
            discovery_fn=pol,
        ),
    )
    res = engine.run_once()
    assert res.n_files == 2 and res.n_events == len(rows)
    exp = {k: v["text"] for k, v in expected_final_state(rows).items()}
    got = {(r.conv_id, r.turn_idx): r.text for r in engine.lake.read().collect()}
    assert got == exp
    # queue drained + second pass is a no-op
    res2 = engine.run_once()
    assert res2.n_files == 0 and res2.n_events == 0


def test_capped_batch_defers_ack_and_reoffers(spark, tmp_path):
    """ADVICE r4 medium: with files_per_trigger capping the batch, the
    after-commit ack must NOT delete messages for files dropped from the
    batch — with event-based discovery they would never reappear. The
    engine re-offers capped files itself next trigger and acks once their
    watermark lands."""
    from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine
    from kafka_connect_fs_spark.testing.generator import (
        CHANGE_EVENT_SCHEMA,
        expected_final_state,
        transcript_change_events,
        write_jsonl,
    )

    bucket_dir = tmp_path / "bucket"
    os.makedirs(bucket_dir)
    rows = transcript_change_events(4, 3)
    write_jsonl(rows[: len(rows) // 2], str(bucket_dir / "a.jsonl"))
    write_jsonl(rows[len(rows) // 2 :], str(bucket_dir / "b.jsonl"))
    bucket = str(bucket_dir)
    q = FakeQueue(
        [s3_event_body(bucket, "a.jsonl"), s3_event_body(bucket, "b.jsonl")]
    )
    pol = S3EventNotificationsPolicy(
        q, f"file://{bucket}", event_regex="ObjectCreated:.*",
        ack_mode="after_commit",
    )
    engine = IngestEngine(
        spark,
        IngestConfig(
            uris=[],
            table_root=str(tmp_path / "table"),
            checkpoint_root=str(tmp_path / "ckpt"),
            fmt="jsonl",
            schema=CHANGE_EVENT_SCHEMA,
            n_buckets=4,
            discovery_fn=pol,
            discovery_ack_fn=pol.ack_pending,
            files_per_trigger=1,
        ),
    )
    res1 = engine.run_once()
    assert res1.n_files == 1
    # only a.jsonl's message acked; b.jsonl's stays pending (NOT lost)
    assert q.deleted == ["rh0"]
    # queue is NOT the source of b.jsonl anymore (its message is pending,
    # FakeQueue redelivers, but even a strict non-redelivering queue would
    # work): the engine's carryover re-offers it
    res2 = engine.run_once()
    assert res2.n_files == 1
    assert sorted(q.deleted) == ["rh0", "rh1"]
    exp = {k: v["text"] for k, v in expected_final_state(rows).items()}
    got = {(r.conv_id, r.turn_idx): r.text for r in engine.lake.read().collect()}
    assert got == exp


def test_zero_byte_object_event_still_acked(spark, tmp_path):
    """Review r4: a 0-byte object (empty upload / folder marker) is
    filtered from the batch, but its message must still ack after the
    commit or it redelivers forever."""
    from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine
    from kafka_connect_fs_spark.testing.generator import CHANGE_EVENT_SCHEMA

    bucket_dir = tmp_path / "bucket"
    os.makedirs(bucket_dir)
    (bucket_dir / "empty.jsonl").write_bytes(b"")
    bucket = str(bucket_dir)
    q = FakeQueue([s3_event_body(bucket, "empty.jsonl")])
    pol = S3EventNotificationsPolicy(
        q, f"file://{bucket}", event_regex="ObjectCreated:.*",
        ack_mode="after_commit",
    )
    engine = IngestEngine(
        spark,
        IngestConfig(
            uris=[], table_root=str(tmp_path / "t"),
            checkpoint_root=str(tmp_path / "c"), fmt="jsonl",
            schema=CHANGE_EVENT_SCHEMA, n_buckets=4,
            discovery_fn=pol, discovery_ack_fn=pol.ack_pending,
        ),
    )
    res = engine.run_once()
    assert res.n_files == 0
    assert q.deleted == ["rh0"]  # acked despite being filtered out
    assert pol._pending_acks == {}


def test_redelivered_message_rekeys_by_message_id():
    """Review r4: SQS issues a NEW receipt handle per redelivery; pending
    acks must key on message_id and delete with the FRESH handle, once."""

    class RotatingQueue:
        def __init__(self, bodies):
            self.bodies = list(bodies)
            self.deliveries = 0
            self.deleted = []

        def receive_messages(self):
            self.deliveries += 1
            return [
                QueueMessage(f"m{i}", f"rh{i}-gen{self.deliveries}", b)
                for i, b in enumerate(self.bodies)
            ]

        def delete_message(self, handle):
            self.deleted.append(handle)

    q = RotatingQueue([s3_event_body("b", "a.jsonl")])
    pol = S3EventNotificationsPolicy(
        q, "s3://b", stat_fn=fake_stat({"s3://b/a.jsonl": 3}),
        ack_mode="after_commit",
    )
    pol.poll()  # first delivery: handle rh0-gen1
    pol.ack_pending(set())  # path not durable: kept pending
    pol.poll()  # redelivery: handle rh0-gen2 replaces gen1
    assert len(pol._pending_acks) == 1
    assert pol.ack_pending({"s3://b/a.jsonl"}) == 1
    assert q.deleted == ["rh0-gen2"]  # fresh handle, exactly once


def test_records_cap_drain_without_new_events(spark, tmp_path):
    """A file announced ONCE via an event must drain across triggers
    under records_per_file_per_trigger: the engine re-offers its non-eof
    watermark row itself (no new event ever arrives), and acks the
    message only when the drain completes."""
    from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine
    from kafka_connect_fs_spark.testing.generator import (
        CHANGE_EVENT_SCHEMA,
        transcript_change_events,
        write_jsonl,
    )

    bucket_dir = tmp_path / "bucket"
    os.makedirs(bucket_dir)
    rows = transcript_change_events(3, 4)  # 12 events in one file
    write_jsonl(rows, str(bucket_dir / "a.jsonl"))
    bucket = str(bucket_dir)
    q = FakeQueue([s3_event_body(bucket, "a.jsonl")])
    pol = S3EventNotificationsPolicy(
        q, f"file://{bucket}", event_regex="ObjectCreated:.*",
        ack_mode="after_commit",
    )
    # drain the queue into the policy ONCE, then cut it off so redelivery
    # cannot be the re-offer mechanism
    first_listing = pol.poll()
    assert len(first_listing) == 1
    fed = [False]

    def discovery():
        if not fed[0]:
            fed[0] = True
            return first_listing
        return []

    engine = IngestEngine(
        spark,
        IngestConfig(
            uris=[], table_root=str(tmp_path / "t"),
            checkpoint_root=str(tmp_path / "c"), fmt="jsonl",
            schema=CHANGE_EVENT_SCHEMA, n_buckets=4,
            discovery_fn=discovery, discovery_ack_fn=pol.ack_pending,
            records_per_file_per_trigger=5,
        ),
    )
    got = [engine.run_once().n_events for _ in range(4)]
    assert got == [5, 5, 2, 0]  # drained via wm re-offer, then idle
    assert engine.lake.read().count() == len({(r["conv_id"], r["turn_idx"]) for r in rows})
    assert sorted(q.deleted) == ["rh0"]  # acked once the file went eof


def test_vanished_nonfinished_file_purged_and_acked(spark, tmp_path):
    """A file that vanishes after partial ingest (non-eof watermark) must
    not re-offer forever: the engine stats re-offer candidates, purges
    the stale watermark row, and treats the path as durable for acking."""
    from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine
    from kafka_connect_fs_spark.testing.generator import CHANGE_EVENT_SCHEMA

    bucket_dir = tmp_path / "bucket"
    os.makedirs(bucket_dir)
    p = bucket_dir / "a.jsonl"
    # torn final line (no trailing newline) → eof stays False
    p.write_text(
        '{"op":"upsert","conv_id":"c1","turn_idx":0,"role":"user","text":"hi",'
        '"tool":null,"ts":"2024-01-01T00:00:00"}\n{"op":"upsert","conv_id":"c1"'
    )
    bucket = str(bucket_dir)
    q = FakeQueue([s3_event_body(bucket, "a.jsonl")])
    pol = S3EventNotificationsPolicy(
        q, f"file://{bucket}", event_regex="ObjectCreated:.*",
        ack_mode="after_commit",
    )
    engine = IngestEngine(
        spark,
        IngestConfig(
            uris=[], table_root=str(tmp_path / "t"),
            checkpoint_root=str(tmp_path / "c"), fmt="jsonl",
            schema=CHANGE_EVENT_SCHEMA, n_buckets=4,
            discovery_fn=pol, discovery_ack_fn=pol.ack_pending,
            emit_unterminated_final_line=False,
        ),
    )
    r1 = engine.run_once()
    assert r1.n_events == 1  # complete first line only; torn tail held
    uri = f"file://{p}"  # the policy emits scheme-qualified URIs
    wm = engine.watermarks.load_dict()
    assert not wm[uri]["eof"]
    # the file vanishes before the held-back tail ever completes
    os.remove(p)
    engine.run_once()
    assert uri not in engine.watermarks.load_dict()  # purged
    assert sorted(q.deleted) == ["rh0"]  # nothing owed: acked
    # subsequent triggers stay clean (no resurrection loop)
    r3 = engine.run_once()
    assert r3.n_files == 0


def test_stat_uri_bare_path(tmp_path):
    """ADVICE r4 low: a bare (non-URI) path must stat via the local fs,
    not raise IndexError on the '://' split."""
    from kafka_connect_fs_spark.sources.discovery import stat

    p = tmp_path / "f.txt"
    p.write_text("hello")
    meta = stat(str(p))
    assert meta is not None and meta.length == 5
    assert stat(str(tmp_path / "missing.txt")) is None
    assert stat(str(tmp_path)) is None  # directory -> not a file


def test_bucket_prefix_collision_rejected():
    """A policy on s3://my-bucket-2 must NOT accept events for bucket
    my-bucket (a raw startswith prefix match would): separator-aware
    bucket comparison."""
    q = FakeQueue(
        [
            s3_event_body("my-bucket", "stray.jsonl"),
            s3_event_body("my-bucket-2", "mine.jsonl"),
        ]
    )
    sizes = {
        "s3://my-bucket/stray.jsonl": 5,
        "s3://my-bucket-2/mine.jsonl": 5,
    }
    pol = S3EventNotificationsPolicy(
        q, "s3://my-bucket-2/data", stat_fn=fake_stat(sizes)
    )
    got = pol.poll()
    assert [f.path for f in got] == ["s3://my-bucket-2/mine.jsonl"]
    # bare-bucket URI (no path component) still matches its own bucket
    q2 = FakeQueue([s3_event_body("my-bucket-2", "mine.jsonl")])
    pol2 = S3EventNotificationsPolicy(q2, "s3://my-bucket-2", stat_fn=fake_stat(sizes))
    assert [f.path for f in pol2.poll()] == ["s3://my-bucket-2/mine.jsonl"]


def test_url_encoded_keys_are_decoded():
    """S3 delivers keys URL-encoded; the stat must see the real key or the
    object is never ingested (and its event acknowledged away)."""
    q = FakeQueue([s3_event_body("b", "red+flower%3D1.jsonl")])
    seen = []

    def stat(uri):
        seen.append(uri)
        return FileMeta(uri, 5, 1.0)

    pol = S3EventNotificationsPolicy(q, "s3://b", stat_fn=stat)
    got = pol.poll()
    assert seen == ["s3://b/red flower=1.jsonl"]
    assert [f.path for f in got] == ["s3://b/red flower=1.jsonl"]


def test_ack_mode_after_commit_defers_deletes():
    q = FakeQueue([s3_event_body("b", "a.jsonl"), s3_event_body("b", "b.jsonl")])
    pol = S3EventNotificationsPolicy(
        q, "s3://b", stat_fn=fake_stat({"s3://b/a.jsonl": 3, "s3://b/b.jsonl": 3}),
        ack_mode="after_commit",
    )
    got = pol.poll()
    assert len(got) == 2
    assert q.deleted == []  # nothing acknowledged yet: crash-safe window
    assert pol.ack_pending() == 2
    assert sorted(q.deleted) == ["rh0", "rh1"]
    assert pol.ack_pending() == 0  # idempotent / drained


def test_ack_pending_shrinks_multirecord_message_across_triggers():
    """ADVICE r4: a multi-record message whose paths commit in DIFFERENT
    triggers (split by files_per_trigger caps) must ack once the LAST
    path commits — each ack_pending call shrinks the pending entry by
    the now-durable paths instead of demanding one superset commit."""
    body = json.dumps({
        "Records": [
            {
                "eventVersion": "2.1",
                "eventSource": "aws:s3",
                "eventName": "ObjectCreated:Put",
                "s3": {"bucket": {"name": "b"},
                       "object": {"key": k, "size": 7}},
            }
            for k in ("data/a.jsonl", "data/b.jsonl")
        ]
    })
    q = FakeQueue([body])
    sizes = {"s3://b/data/a.jsonl": 7, "s3://b/data/b.jsonl": 7}
    pol = S3EventNotificationsPolicy(
        q, "s3://b/data", stat_fn=fake_stat(sizes), ack_mode="after_commit",
    )
    got = pol.poll()
    assert len(got) == 2 and not q.deleted
    # trigger 1 commits only path a: message not deleted, entry shrinks
    assert pol.ack_pending({"s3://b/data/a.jsonl"}) == 0
    assert not q.deleted
    # trigger 2 commits path b: the remaining set empties -> delete
    assert pol.ack_pending({"s3://b/data/b.jsonl"}) == 1
    assert q.deleted == ["rh0"]
