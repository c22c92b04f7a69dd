"""HDFS inotify push discovery — O(events) instead of O(objects listed).

Reference: policy/HdfsFileWatcherPolicy.java:134-208 — a background thread
drains ``HdfsAdmin#getInotifyEventStream()`` and enqueues paths by event
type (the switch at :144-170):

- CREATE / APPEND / CLOSE → enqueue unless the path ends ``._COPYING_``
  (Hadoop's copy-in-progress temp suffix);
- RENAME → enqueue the DESTINATION only when the SOURCE ends
  ``._COPYING_`` (the copy-completion rename — other renames are noise);
- everything else ignored.

The queue is drained per trigger deduping by path KEEPING THE LATEST
metadata (:88-97), each path is stat'ed at enqueue time and silently
skipped if it vanished (:190-196), and the file-name regex uses
``.find()`` semantics (:200) like every other policy here.

PySpark reaches the same JVM API through the py4j gateway
(``HdfsInotifyPolicy.try_create`` probes ``spark._jvm.org.apache.hadoop.
hdfs.client.HdfsAdmin``); on clusters without HDFS — or where the
inotify stream needs superuser rights it doesn't have — ``try_create``
returns None and callers fall back to the listing-diff
``FileWatcherPolicy`` (streaming/triggers.py), which preserves the
observable semantics at O(listing) cost.

No background thread: the engine's trigger loop IS the poll cadence, so
``poll()`` drains every available (non-blocking) event batch inline —
same delivered set, one fewer failure mode. Wire via
``IngestConfig.discovery_fn``; the engine then never calls
``list_files`` at all.
"""

from __future__ import annotations

import logging
import re
from dataclasses import dataclass
from typing import Callable

from kafka_connect_fs_spark.sources.discovery import FileMeta, stat

log = logging.getLogger("kafka_connect_fs_spark")

COPY_TMP_SUFFIX = "._COPYING_"


@dataclass(frozen=True)
class InotifyEvent:
    """Normalized HDFS inotify event (the subset the reference consumes)."""

    kind: str  # CREATE | APPEND | CLOSE | RENAME | UNLINK | METADATA | ...
    path: str | None = None  # CREATE/APPEND/CLOSE
    src_path: str | None = None  # RENAME
    dst_path: str | None = None  # RENAME


def _normalize_batch(batch) -> list[InotifyEvent]:
    """Accept either a list of InotifyEvent (tests / custom sources) or a
    py4j ``EventBatch`` (the real ``DFSInotifyEventInputStream.poll()``
    result) and normalize to InotifyEvent."""
    if batch is None:
        return []
    if not hasattr(batch, "getEvents"):
        return list(batch)
    out = []
    for ev in batch.getEvents():
        kind = str(ev.getEventType())
        if kind == "RENAME":
            out.append(
                InotifyEvent(
                    kind,
                    src_path=str(ev.getSrcPath()),
                    dst_path=str(ev.getDstPath()),
                )
            )
        elif kind in ("CREATE", "APPEND", "CLOSE"):
            out.append(InotifyEvent(kind, path=str(ev.getPath())))
        else:
            out.append(InotifyEvent(kind))
    return out


class HdfsInotifyPolicy:
    """Push-based discovery from an HDFS inotify event stream.

    ``stream`` is anything with a non-blocking ``poll()`` returning an
    event batch or None — the real ``DFSInotifyEventInputStream`` (py4j)
    or a test double. Paths arriving as HDFS-internal absolute paths
    (``/data/x.jsonl``) are resolved against the policy URI's authority.
    """

    def __init__(
        self,
        stream,
        uri: str,
        regexp: str = ".*",
        stat_fn: Callable[[str], FileMeta | None] | None = None,
        max_batches_per_poll: int = 10_000,
    ):
        self.stream = stream
        self.uri = uri.rstrip("/")
        if "://" in self.uri:
            scheme, rest = self.uri.split("://", 1)
            self._authority = f"{scheme}://{rest.split('/', 1)[0]}"
            # the inotify stream is NAMENODE-WIDE: without a subtree gate,
            # a CREATE anywhere in the namespace would be ingested. Watch
            # only the configured URI's directory subtree.
            self._subtree = "/" + rest.split("/", 1)[1] if "/" in rest else "/"
        else:
            self._authority = ""
            self._subtree = self.uri or "/"
        self.regexp = re.compile(regexp)
        self.stat_fn = stat_fn or stat
        self.max_batches_per_poll = max_batches_per_poll

    def _in_subtree(self, path: str) -> bool:
        root = self._subtree.rstrip("/")
        if not root:
            return True
        return path == root or path.startswith(root + "/")

    def _to_uri(self, path: str) -> str:
        if "://" in path:
            return path
        return f"{self._authority}{path}" if self._authority else path

    def _paths_of(self, events: list[InotifyEvent]) -> list[str]:
        """The reference's event switch (HdfsFileWatcherPolicy.java:144-170)."""
        paths = []
        for ev in events:
            if ev.kind in ("CREATE", "APPEND", "CLOSE"):
                if ev.path and not ev.path.endswith(COPY_TMP_SUFFIX):
                    paths.append(ev.path)
            elif ev.kind == "RENAME":
                # only the copy-completion rename surfaces the dst (:157-161)
                if ev.src_path and ev.src_path.endswith(COPY_TMP_SUFFIX):
                    paths.append(ev.dst_path)
        return [p for p in paths if self._in_subtree(p)]

    def poll(self) -> list[FileMeta]:
        """Drain available event batches → stat'ed, regex-filtered,
        dedup-keep-latest FileMeta list (the ``listFiles`` drain at
        ref :88-97 + the enqueue stat at :190-203)."""
        latest: dict[str, FileMeta] = {}
        for _ in range(self.max_batches_per_poll):
            try:
                batch = self.stream.poll()
            except Exception as e:
                # the real stream throws MissingEventsException when the
                # namenode purged edit-log events past our read txid; the
                # stream object cannot recover — surface a warning and
                # stop this poll. A caller-provided reopen path (or the
                # listing-diff fallback) covers the gap; crashing every
                # subsequent trigger (the alternative) helps nobody.
                log.warning(
                    "inotify stream error (%s): %s — events may have been "
                    "missed; consider a listing sweep", type(e).__name__, e,
                )
                break
            if batch is None:
                break
            for path in self._paths_of(_normalize_batch(batch)):
                uri = self._to_uri(path)
                name = uri.rsplit("/", 1)[-1]
                if not self.regexp.search(name):  # Java Matcher.find()
                    continue
                latest[uri] = None  # dedup keep-latest: stat once per uri
        return self._stat_all(list(latest))

    def _stat_all(self, uris: list[str]) -> list[FileMeta]:
        """Stat the deduped event paths with a bounded thread pool: the
        serial loop this replaces paid O(events) namenode RPC latencies
        per trigger — at the burst rates this policy exists for, poll
        wall-time was sum(stat) instead of ~max(stat). Stats are
        I/O-bound, so threads (not processes) are right; order is
        preserved and vanished files are skipped like the reference
        (:192)."""

        def one(uri: str) -> FileMeta | None:
            try:
                return self.stat_fn(uri)
            except OSError as e:
                log.warning("cannot stat '%s': %s", uri, e)
                return None

        if len(uris) <= 1:
            metas = [one(u) for u in uris]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(uris))) as ex:
                metas = list(ex.map(one, uris))
        return [m for m in metas if m is not None]

    # IngestConfig.discovery_fn takes a zero-arg callable
    __call__ = poll

    @classmethod
    def try_create(
        cls,
        spark,
        uri: str,
        regexp: str = ".*",
        stat_fn: Callable[[str], FileMeta | None] | None = None,
    ) -> "HdfsInotifyPolicy | None":
        """Probe the JVM for ``HdfsAdmin#getInotifyEventStream`` via the
        py4j gateway (the classes ship in pyspark's bundled hadoop-client;
        the STREAM additionally needs a real hdfs:// namenode and inotify
        rights). Returns None when unavailable — callers fall back to the
        listing-diff FileWatcherPolicy."""
        if not uri.startswith("hdfs://"):  # URI_PREFIX gate, ref :28,69
            return None
        try:
            jvm = spark._jvm
            juri = jvm.java.net.URI(uri)
            conf = spark._jsc.hadoopConfiguration()
            admin = jvm.org.apache.hadoop.hdfs.client.HdfsAdmin(juri, conf)
            stream = admin.getInotifyEventStream()
        except Exception as e:
            log.warning(
                "HDFS inotify unavailable for '%s' (%s); falling back to "
                "listing-diff", uri, type(e).__name__,
            )
            return None
        return cls(stream, uri, regexp=regexp, stat_fn=stat_fn)
