"""Per-file offsets of one ingest stream: a read view of the lake's log.

Plays the role of Kafka Connect's offset storage in the reference
(FsSourceTask.java:80-91 reads ``{offset, file-size, eof}`` keyed by
``{path}``; AbstractPolicy.java:233-248 seeks readers to the committed
offset and skips finished files). There is no second store: each ingest
commit carries its batch's offsets in ``app_metadata`` and the lake's
state replay folds them per stream (``LakeTable._fold_offsets``), the way
Delta Lake keeps a writer's progress in its own table log. So the commit
that lands a batch's rows lands its offsets too.
"""

from __future__ import annotations

import json
import os
import re
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from kafka_connect_fs_spark.plans.lake import LakeTable, offsets_metadata, stream_batch_id

_FIELDS = ("path", "committed_offset", "file_size", "eof")
WATERMARK_SCHEMA = "path string, committed_offset bigint, file_size bigint, eof boolean"


class WatermarkStore:
    """The offsets of the stream whose batch ids start with ``stream``."""

    def __init__(self, lake: LakeTable, stream: str):
        self.lake, self.stream = lake, stream

    def _state(self) -> dict:
        return self.lake._state_full().streams.get(self.stream, {})

    def load_dict(self) -> dict[str, dict]:
        """{path: {committed_offset, file_size, eof}}: the lake's own map,
        updated in place as commits land. Copy it to keep a snapshot."""
        return self._state().get("files", {})

    def load(self) -> DataFrame:
        """The same rows as a DataFrame, built on the driver: O(tracked)."""
        rows = [(p, *(w[k] for k in _FIELDS[1:])) for p, w in sorted(self.load_dict().items())]
        return self.lake.spark.createDataFrame(rows, WATERMARK_SCHEMA)

    def last_seq(self) -> int:
        """Highest committed batch sequence number (-1 if none)."""
        return self._state().get("seq", -1)

    def pending_cleanup(self) -> list[str]:
        """The cleanup list of the stream's last commit."""
        return self._state().get("cleanup", [])

    def commit(self, updates: list[dict], seq: int, removed_paths=None,
               cleanup=(), imported: bool = False):
        """A metadata-only commit: forget ``removed_paths``, then upsert."""
        md = offsets_metadata(updates, removed_paths or (), cleanup, imported)
        return self.lake._commit_meta(stream_batch_id(self.stream, seq), app_metadata=md)

    def import_store(self, root: str) -> None:
        """Once per stream, import the latest state of a store directory
        that older builds kept beside the log (both of its layouts: a base
        snapshot plus a delta chain, or a snapshot alone). A lake commit
        past its last seq is that store's crash window: the merge landed
        and the store commit did not, so its offsets go on top."""
        if self._state().get("imported") or not os.path.isdir(root):
            return
        names = sorted(n for n in os.listdir(root) if re.fullmatch(r"v\d{12}\.json", n))
        meta = json.loads(Path(root, names[-1]).read_text()) if names else {}
        base = meta.get("base_seq", int(names[-1][1:13]) if names else -1)
        rows = pq.read_table(os.path.join(root, f"v{base:012d}")).to_pylist() if base >= 0 else []
        for d in meta.get("delta_seqs", []):
            rows += pq.read_table(os.path.join(root, f"d{d:012d}.parquet")).to_pylist()
        files = {}
        for r in rows:  # a delta row with removed=True is a tombstone
            if r.get("removed"):
                files.pop(r["path"], None)
            else:
                files[r["path"]] = {k: r[k] for k in _FIELDS}
        seq, cleanup = meta.get("batch_seq", -1) + 1, []
        while c := self.lake.get_commit_by_batch_id(stream_batch_id(self.stream, seq)):
            files.update((w["path"], w) for w in c.app_metadata.get("watermarks", []))
            cleanup, seq = c.app_metadata.get("cleanup", []), seq + 1
        self.commit(list(files.values()), max(seq, self.last_seq() + 1),
                    cleanup=cleanup, imported=True)
