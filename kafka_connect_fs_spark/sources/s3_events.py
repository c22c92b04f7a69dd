"""S3 event-notification discovery — push-based listing for object stores.

Reference: policy/S3EventNotificationsPolicy.java:113-166 — an SQS queue
delivers S3 event JSON (optionally wrapped in an SNS envelope); records are
filtered by event-name regex and by bucket (the policy's working URI must
live in the event's bucket), the object is stat'ed, and the message is
optionally deleted. This replaces paged LIST calls with O(events) work —
the difference between re-listing 10^8 objects per trigger and reading a
queue, which is why object-store users run this policy.

The queue client is INJECTED (this sandbox has no AWS SDK or network):
anything exposing ``receive_messages() -> list[QueueMessage]`` and
``delete_message(receipt_handle)`` works; production wires boto3's SQS in
~10 lines. Parsing, filtering, and stat logic — everything the reference's
mocked-client test covers (S3EventNotificationsPolicyTest.java) — is real
and tested with the same fixture strategy.
"""

from __future__ import annotations

import json
import logging
import re
from dataclasses import dataclass
from typing import Callable, Protocol
from urllib.parse import unquote_plus

from kafka_connect_fs_spark.sources.discovery import FileMeta, stat

log = logging.getLogger("kafka_connect_fs_spark")


@dataclass(frozen=True)
class QueueMessage:
    message_id: str
    receipt_handle: str
    body: str


@dataclass(frozen=True)
class S3EventRecord:
    """One parsed S3 record (ref: S3EventNotificationsPolicy.EventRecord)."""

    message_id: str
    receipt_handle: str
    event_name: str
    bucket: str
    key: str


class QueueClient(Protocol):
    def receive_messages(self) -> list[QueueMessage]: ...

    def delete_message(self, receipt_handle: str) -> None: ...


def parse_event_message(msg: QueueMessage) -> list[S3EventRecord]:
    """S3 event JSON → records; SNS envelopes unwrapped; unparseable or
    Records-less bodies ignored (ref parseMessage, :148-166)."""
    try:
        content = json.loads(msg.body)
        if isinstance(content, dict) and content.get("Type") == "Notification":
            content = json.loads(content["Message"])
    except (ValueError, KeyError, TypeError):
        return []
    if not isinstance(content, dict) or "Records" not in content:
        return []
    out = []
    for rec in content["Records"] or []:
        try:
            if "s3" not in rec:
                continue
            out.append(
                S3EventRecord(
                    message_id=msg.message_id,
                    receipt_handle=msg.receipt_handle,
                    event_name=rec["eventName"],
                    bucket=rec["s3"]["bucket"]["name"],
                    # S3 delivers object keys URL-encoded ('red flower.jpg'
                    # arrives as 'red+flower.jpg', '=' as '%3D'); stat'ing
                    # the raw key finds nothing and the object is lost to
                    # discovery. unquote_plus is the full inverse (the
                    # reference only mapped '+'→space,
                    # S3EventNotificationsPolicy.java:181 — %XX keys were
                    # lost there too).
                    key=unquote_plus(rec["s3"]["object"]["key"]),
                )
            )
        except (KeyError, TypeError):
            continue  # malformed record: skip it, keep the rest
    return out


class S3EventNotificationsPolicy:
    """Event-driven discovery: poll a queue of S3 notifications → FileMeta
    listing for the engine (wire via ``IngestConfig.discovery_fn``).

    Semantics match the reference (:113-146): event-name regex is a FULL
    match (Java String.matches); only events for the bucket containing the
    configured URI pass; objects that vanished between event and stat are
    warned and skipped; ``delete_messages`` acknowledges processed
    messages (redelivery of an already-ingested file is harmless — the
    engine's watermark anti-join makes discovery at-least-once-safe).

    ``ack_mode``:
    - ``"at_poll"`` (reference parity, :132-135): messages are deleted as
      soon as they are processed. A crash BETWEEN the delete and the
      engine's commit loses that discovery (at-most-once across crashes —
      the reference has the same window).
    - ``"after_commit"``: deletes are deferred into ``ack_pending()``;
      wire it to ``IngestConfig.discovery_ack_fn`` and the engine calls it
      only after the batch's watermark commit — a crash before the commit
      redelivers the message and the file is re-discovered (at-least-once,
      absorbed by the watermark anti-join).
    """

    def __init__(
        self,
        queue: QueueClient,
        uri: str,
        event_regex: str = ".*",
        delete_messages: bool = True,
        stat_fn: Callable[[str], FileMeta | None] | None = None,
        ack_mode: str = "at_poll",
    ):
        self.scheme, sep, _ = uri.partition("://")
        if not sep:
            raise ValueError(f"S3 events need a URI-form location, got {uri!r}")
        if ack_mode not in ("at_poll", "after_commit"):
            raise ValueError(f"unknown ack_mode: {ack_mode!r}")
        self.queue = queue
        self.uri = uri.rstrip("/")
        self.event_regex = re.compile(event_regex)
        self.delete_messages = delete_messages
        self.ack_mode = ack_mode
        # message_id -> (receipt_handle, paths the message announced):
        # after_commit acks only delete a message once EVERY announced
        # path is durable — blanket acking would lose discoveries the
        # engine capped out of the batch (files_per_trigger/
        # bytes_per_trigger), which never reappear in an event-based
        # listing. Keyed by message_id because SQS issues a NEW receipt
        # handle on every redelivery (only the latest handle is valid
        # for delete); values keep insertion order for deterministic acks
        self._pending_acks: dict[str, tuple[str, frozenset[str]]] = {}
        self.stat_fn = stat_fn or stat

    def _in_bucket(self, record: S3EventRecord) -> bool:
        # ref :121 intent (fs.getWorkingDirectory().startsWith(uriPrefix +
        # bucket)) but separator-aware: a policy on s3://my-bucket-2 must
        # NOT accept events for bucket my-bucket (raw startswith would).
        prefix = f"{self.scheme}://{record.bucket}"
        return self.uri == prefix or self.uri.startswith(prefix + "/")

    def poll(self) -> list[FileMeta]:
        out: list[FileMeta] = []
        for msg in self.queue.receive_messages():
            msg_paths: list[str] = []
            for rec in parse_event_message(msg):
                if not self.event_regex.fullmatch(rec.event_name):
                    continue
                if not self._in_bucket(rec):
                    continue
                uri = f"{self.scheme}://{rec.bucket}/{rec.key}"
                try:
                    meta = self.stat_fn(uri)
                except OSError as e:
                    meta = None
                    log.warning("cannot stat '%s': %s", uri, e)
                if meta is not None:
                    out.append(meta)
                    msg_paths.append(uri)
            # acknowledge ONCE per message (a multi-record message has one
            # receipt handle), matched or not — fully-filtered/unparseable
            # messages would otherwise redeliver forever
            if self.delete_messages:
                if self.ack_mode == "after_commit":
                    # a redelivered message (visibility timeout while its
                    # paths drain) replaces its older pending entry —
                    # matched by message_id, keeping the FRESH receipt
                    # handle (the old one is invalid after redelivery)
                    self._pending_acks.pop(msg.message_id, None)
                    self._pending_acks[msg.message_id] = (
                        msg.receipt_handle,
                        frozenset(msg_paths),
                    )
                else:
                    self.queue.delete_message(msg.receipt_handle)
        return out

    def ack_pending(self, durable_paths: set[str] | None = None) -> int:
        """Delete pending messages (ack_mode='after_commit'); call after
        the batch commit — IngestConfig.discovery_ack_fn.

        With ``durable_paths`` (the engine passes the paths whose
        watermarks just committed), a message is deleted once every one
        of its announced paths has committed — across however many
        triggers that takes: each call SHRINKS a pending entry by the
        paths now durable (a multi-record message split by
        files_per_trigger caps commits piecewise; without the shrink it
        would never ack and only clear via a visibility-timeout
        redelivery cycle). The rest stay pending for a later ack or
        queue redelivery after a crash. ``None`` acks everything (legacy
        / caller knows the whole batch committed)."""
        n = 0
        keep: dict[str, tuple[str, frozenset[str]]] = {}
        for mid, (handle, paths) in self._pending_acks.items():
            remaining = (
                frozenset() if durable_paths is None else paths - durable_paths
            )
            if not remaining:
                self.queue.delete_message(handle)
                n += 1
            else:
                keep[mid] = (handle, remaining)
        self._pending_acks = keep
        return n

    # IngestConfig.discovery_fn takes a zero-arg callable
    __call__ = poll
