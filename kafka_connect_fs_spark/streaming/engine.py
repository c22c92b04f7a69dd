"""IngestEngine — the micro-batch driver replacing FsSourceTask.poll().

One micro-batch (reference hot loop FsSourceTask.java:77-121, re-expressed
as a Spark plan):

1. discover:   list URIs, regex-filter names, drop empty files
               (AbstractPolicy.listFiles + FsSourceTask.java:126)
2. resume:     compare listing against the committed per-file offsets
               (sources/watermarks.py, a view of the lake's log); new or
               grown files become work items starting at their committed
               offset (the reference's batched offsets() fetch + seek,
               FsSourceTask.java:83-91, AbstractPolicy.java:233-248)
3. read:       distributed vectorized parse (sources/readers.py) into the
               change-event DataFrame with per-record lineage
               (_src_file, _src_offset) — a lazy plan, nothing runs yet
4. resolve:    last-writer-wins per (key, ts) inside the MERGE
5. commit:     idempotent MERGE into the lake table (batch_id guard). Its
               data write is the batch's one Spark pass: it runs the
               scanner, whose ranges report their outcomes into an
               accumulator, and the record counts ride the same action as
               observed metrics. After the write and before the commit,
               the outcomes fold into the per-file offsets the commit
               carries in its app_metadata. One batch is one commit: rows
               and offsets land together or not at all, so a crash at any
               point replays from the last commit's offsets —
               exactly-once end to end (upgrades the reference's
               documented at-least-once, docs/source/faq.rst:7-17)
6. cleanup:    fully-consumed files get NONE/MOVE/DELETE side-effects
               (AbstractPolicy.java:281-331) after a commit names them;
               a restart finishes the last commit's list on the files
               still unchanged, and the next commit forgets the cleaned
               paths
7. metrics:    per-batch lineage (files, events, quarantined records, range
               outcomes, per-bucket rows, duration) appended to
               <checkpoint>/metrics.jsonl

Scale: discovery is O(listing); everything row-shaped is a distributed
DataFrame; per-batch driver state is bounded by files-per-trigger (the
range outcomes are one small tuple per scanned range, in one accumulator
emptied per batch), scanner tasks are sized to the host's parallelism (or
to the batch's bytes, when that needs more), and the MERGE shuffle is
bucket-pruned + partial-aggregated (see plans/lake.py).
"""

from __future__ import annotations

import errno
import json
import logging
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.fs as pafs
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_fs_spark.operators.schema_evolution import diff_schemas
from kafka_connect_fs_spark.plans.lake import LakeTable, offsets_metadata, stream_batch_id
from kafka_connect_fs_spark.sources import discovery
from kafka_connect_fs_spark.sources.discovery import FileMeta, list_files
from kafka_connect_fs_spark.sources.readers import (
    CUSTOM_READERS,
    RANGE_FAILED,
    RANGE_OK,
    RANGE_PARTIAL,
    RangeOutcome,
    WorkItem,
    format_for,
    outcome_accumulator,
    parse_csv,
    parse_fixed_width,
    parse_jsonl,
    parse_text,
    parse_xml_lines,
    read_binary,
    read_columnar,
    read_line_format_native,
    read_lines,
    read_whole_file_records,
)
from kafka_connect_fs_spark.sources.watermarks import WatermarkStore

log = logging.getLogger("kafka_connect_fs_spark")

LINE_FORMATS = {"text", "csv", "tsv", "jsonl", "fixedwidth", "xml_lines"}
NATIVE_LINE_FORMATS = {"text", "csv", "tsv", "jsonl"}  # JVM fast path (offset-0 files)
WHOLE_FILE_FORMATS = {"yaml", "xml", "json_whole", "text_whole"}
COLUMNAR_FORMATS = {"parquet", "avro", "orc"}


@dataclass
class IngestConfig:
    uris: list[str]
    table_root: str
    checkpoint_root: str
    fmt: str = "jsonl"  # or "agnostic" for by-extension dispatch
    regexp: str = ".*"
    recursive: bool = True
    # alternative discovery source (e.g. sources/s3_events.py's
    # S3EventNotificationsPolicy.poll): when set, it replaces the
    # list_files() sweep — push-based O(events) discovery instead of
    # O(objects) listing; uris/regexp/recursive are then the policy's
    # business. The watermark anti-join downstream makes any
    # at-least-once discovery source safe.
    discovery_fn: Callable[[], list] | None = None
    # called after each batch's commit with the set of paths whose
    # discovery is now durable (offset committed, already finished, or
    # vanished) — the exactly-once ack hook for deferred-ack
    # discovery sources (e.g.
    # S3EventNotificationsPolicy(ack_mode="after_commit").ack_pending):
    # a crash before the commit leaves the queue messages undeleted, so
    # the events redeliver and the watermark anti-join absorbs them.
    # Messages for files the per-trigger caps dropped from the batch are
    # NOT in the durable set — they stay pending (the engine re-offers
    # those files itself next trigger and acks once their watermark lands)
    discovery_ack_fn: Callable[[set], object] | None = None
    schema: T.StructType | None = None
    reader_options: dict = field(default_factory=dict)
    keys: tuple = ("conv_id", "turn_idx")
    ts_col: str = "ts"
    n_buckets: int = 16
    # >1 spreads each bucket's delta WRITE over N tasks (deterministic
    # key salt) — for hot conv_id batches; compaction folds the extra files.
    # "auto" = adaptive: the engine sizes the NEXT batch's salt from the
    # per-bucket row counts the previous commit already recorded (zero
    # extra jobs) — a sustained hot conv_id heats the same bucket batch
    # after batch, so a one-batch-lagged feedback controller converges
    # immediately; it decays one step per calm batch so a transient spike
    # doesn't leave permanent extra files for compaction to fold
    write_salt: int | str = 1
    # auto-salt controller targets: salt = ceil(hottest bucket's rows /
    # target_rows_per_write_task), capped at max_write_salt
    target_rows_per_write_task: int = 2_000_000
    max_write_salt: int = 16
    files_per_trigger: int = 0  # 0 = unlimited (policy.batch_size analog)
    bytes_per_trigger: int = 0  # 0 = unlimited (file_reader.batch_size /
    # maxBytesPerTrigger analog: caps the tail bytes admitted per batch)
    # record-level parity with file_reader.batch_size
    # (AbstractFileReader.java:76-86): at most N lines admitted per FILE
    # per trigger; the scanner's PARTIAL outcome pins the committed offset
    # at the last admitted line so the file drains across triggers with no
    # loss or duplication. Implies the offset-aware scanner (no JVM
    # whole-file fast path) for line formats.
    records_per_file_per_trigger: int = 0
    cleanup: str = "none"  # none | move | delete (AbstractPolicy.java:45-47)
    cleanup_move_dir: str | None = None
    # filename prefix applied to moved files (policy.cleanup.move.prefix,
    # AbstractPolicy.java:288: target = cleanupDir / prefix + name)
    cleanup_move_prefix: str = ""
    emit_unterminated_final_line: bool = True
    max_split_bytes: int = 128 * 1024 * 1024
    batch_id_prefix: str = "ingest-"
    # maps parsed records → change events; must preserve _src_file/_src_offset
    transform: Callable[[DataFrame], DataFrame] | None = None
    # old→new column-rename hints: a batch arriving with `new` while the
    # table has `old` triggers a metadata-only table rename (M4)
    rename_hints: dict = field(default_factory=dict)
    # lakehouse hygiene: every N batches, compact fragmented buckets and
    # vacuum unreferenced files (0 = never; a maintenance job can own this
    # instead on a real deployment)
    compact_every: int = 0
    compact_min_files_per_bucket: int = 4
    # 0 = fold every fragmented bucket in one maintenance pause; N > 0 =
    # incremental compaction, at most the N most fragmented buckets per
    # compaction trigger (bounded pause for steady-state ingest loops)
    compact_max_buckets_per_trigger: int = 0


@dataclass
class BatchResult:
    batch_id: str
    seq: int
    n_files: int
    n_events: int
    rows_written: int
    recovered: bool = False
    cleaned: list[str] = field(default_factory=list)
    duration_s: float = 0.0
    schema_diff: dict | None = None
    quarantined: int = 0  # records dropped for a null key or ts
    # scanned byte ranges by outcome kind
    ranges: dict = field(default_factory=lambda: _range_counts({}))


class IngestEngine:
    def __init__(self, spark: SparkSession, config: IngestConfig):
        self.spark = spark
        self.config = config
        # deterministic config errors fail HERE, not as endlessly-retried
        # per-batch warnings deep in the run loop
        if config.cleanup not in ("none", "move", "delete"):
            raise ValueError(f"unknown cleanup mode: {config.cleanup!r}")
        if config.cleanup == "move" and not config.cleanup_move_dir:
            raise ValueError("cleanup='move' requires cleanup_move_dir")
        if config.write_salt != "auto" and (
            not isinstance(config.write_salt, int) or config.write_salt < 1
        ):
            raise ValueError(
                f"write_salt must be a positive int or 'auto', got "
                f"{config.write_salt!r}"
            )
        # adaptive-salt controller state (write_salt="auto"): the salt the
        # NEXT merge will use, updated from each commit's bucket stats
        self._auto_salt: int = 1
        # reference parity (data_type_mapping_error=false,
        # UnivocityFileReader.java:273-305): unparseable cells become NULL
        # and the record is quarantined — under ANSI (the Spark 4 default)
        # the same cast would fail the whole batch instead. The engine owns
        # its session in deployment (spark-submit driver loop), so pin both
        # runtime-settable confs its semantics depend on.
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # emptied per batch: PySpark never drops a driver-side
        # accumulator, so one per batch would grow without bound
        self._outcomes = outcome_accumulator(spark)
        self.lake = (
            LakeTable(spark, config.table_root)
            if LakeTable.exists(config.table_root)
            else LakeTable.create(
                spark,
                config.table_root,
                keys=list(config.keys),
                ts_col=config.ts_col,
                n_buckets=config.n_buckets,
            )
        )
        # an EXISTING table's frozen spec wins over the config — but a
        # silently-drifted config would still drive the quarantine filter
        # and planning, so mismatches are an error, not a shrug. Replay
        # the log first: n_buckets may have EVOLVED via set_n_buckets —
        # the config must match the table's CURRENT scheme, not the
        # create-time one
        self.lake._state_full()
        drift = {
            name: (got, want)
            for name, got, want in (
                ("keys", tuple(self.lake.keys), tuple(config.keys)),
                ("ts_col", self.lake.ts_col, config.ts_col),
                ("n_buckets", self.lake.n_buckets, config.n_buckets),
            )
            if got != want
        }
        if drift:
            raise ValueError(
                f"IngestConfig disagrees with the existing table at "
                f"{config.table_root}: "
                + ", ".join(
                    f"{k}: table={a!r} config={b!r}" for k, (a, b) in drift.items()
                )
            )
        # the offsets live in the lake's log, folded per batch_id_prefix
        self.watermarks = WatermarkStore(self.lake, config.batch_id_prefix)
        self.watermarks.import_store(os.path.join(config.checkpoint_root, "watermarks"))
        # paths cleaned since the last commit: the next commit forgets them
        self._cleaned: list[str] = self._resume_cleanup()
        os.makedirs(config.checkpoint_root, exist_ok=True)
        self._metrics_path = os.path.join(config.checkpoint_root, "metrics.jsonl")
        # event-based discovery never re-lists, so files the per-trigger
        # caps dropped from a batch are re-offered from here next trigger
        # (crash-safe: their queue messages stay un-acked until their
        # offsets commit, so redelivery covers a lost process)
        self._carryover: dict[str, FileMeta] = {}
        # paths whose files vanished after discovery: nothing will ever be
        # owed for them, so their messages are ack-able
        self._vanished: set[str] = set()

    # ------------------------------------------------------------- planning
    def _plan(
        self, listing: list[FileMeta], wm_rows: dict[str, dict], forgotten=()
    ) -> tuple[list[WorkItem], list[str]]:
        """Work items and finished files. A path in ``forgotten`` (cleaned,
        its row not yet dropped by a commit) is a new file if listed: one
        recreated under that name must not resume from the old offset."""
        work: list[WorkItem] = []
        finished: list[str] = []
        for f in listing:
            w = None if f.path in forgotten else wm_rows.get(f.path)
            if w is None:
                work.append(WorkItem(f.path, 0, f.length))
                continue
            # shrank file = truncated or rotated IN PLACE: the committed
            # offset points past the new content, so it is a brand-new file
            # — re-ingest from 0 (idempotent LWW absorbs any overlap).
            # Without this branch it would stall untracked forever, or
            # worse: an eof=True watermark would treat the replacement as
            # finished and cleanup=delete would remove it unread.
            shrank = (
                f.length < w["file_size"]
                if _compressed(f.path)
                else f.length < w["committed_offset"]
            )
            if shrank:
                work.append(WorkItem(f.path, 0, f.length))
                continue
            # compressed offsets are decompressed-bytes, so growth is judged
            # on the recorded compressed file_size instead
            grown = (
                f.length > w["file_size"]
                if _compressed(f.path)
                else f.length > w["committed_offset"]
            )
            if grown:
                # grown file → tail from the committed offset
                # (HdfsFileWatcherPolicy append semantics, :144-170)
                work.append(WorkItem(f.path, w["committed_offset"], f.length))
            elif _compressed(f.path) and not w["eof"]:
                # compressed file whose read failed (offsets can't signal
                # progress): retry every trigger, like the reference's
                # warn-and-reoffer loop
                work.append(WorkItem(f.path, w["committed_offset"], f.length))
            elif w["eof"]:
                # already fully consumed → cleanup candidate, never re-read
                # (AbstractPolicy.java:233-241; FsSourceTaskTest.java:260-271)
                finished.append(f.path)
            elif not _compressed(f.path) and f.length == w["committed_offset"]:
                # size landed EXACTLY on the committed offset without eof:
                # only possible when a held-back torn tail was truncated
                # away (a normal append-in-progress keeps size > committed;
                # a clean end-of-file committed eof=True). Nothing is owed
                # from this file — treat as consumed, or it would sit in
                # the listing untracked forever and never be cleaned.
                finished.append(f.path)
        cap = self.config.files_per_trigger
        if cap and len(work) > cap:
            work = work[:cap]  # listing is path-sorted → deterministic batching
        bcap = self.config.bytes_per_trigger
        if bcap:
            out, total = [], 0
            for w in work:
                # compressed offsets are decompressed-bytes while snap_length
                # is compressed: count the full compressed re-read cost there
                size = (
                    w.snap_length
                    if _compressed(w.path)
                    else max(0, w.snap_length - w.start_offset)
                )
                if out and total + size > bcap:
                    break
                out.append(w)
                total += size
            work = out  # remainder picked up next trigger (offsets unchanged)
        return work, finished

    def _fmt_of(self, path: str) -> str:
        cfg = self.config
        fmt = (
            format_for(path, cfg.reader_options.get("format_overrides"))
            if cfg.fmt == "agnostic"
            else cfg.fmt
        )
        if fmt == "xml" and cfg.reader_options.get("record_per_line"):
            # the reference's XML default is record-per-line
            # (XmlFileReader.java record_per_line via JacksonFileReader);
            # whole-file is this engine's default, the option flips it
            fmt = "xml_lines"
        return fmt

    # --------------------------------------------------------------- reading
    def _read(self, work: list[WorkItem], outcomes) -> tuple[DataFrame, set[str]]:
        """Returns (events_df, native_paths), both lazy.

        Ranges read by the offset-aware scanner report their outcomes into
        ``outcomes`` when an action runs the scan. ``native_paths`` are
        whole files read via the JVM-native fast path — they report no
        outcomes; their watermark commits the full snapshot length (a
        native read failure fails the batch, so no false progress is
        possible)."""
        cfg = self.config
        groups: dict[str, list[WorkItem]] = {}
        for w in work:
            groups.setdefault(self._fmt_of(w.path), []).append(w)

        event_parts: list[DataFrame] = []
        native_paths: set[str] = set()
        rows_to_skip = int(cfg.reader_options.get("rows_to_skip", 0))
        # preamble skipping needs the offset-aware scanner (Spark's native
        # csv/json sources cannot skip N leading lines)
        jvm_fast = (
            cfg.reader_options.get("jvm_fast_path", True)
            and not rows_to_skip
            # a record cap needs the offset-aware scanner: the native
            # reader always consumes whole files
            and not cfg.records_per_file_per_trigger
            # strict final-line handling needs the scanner's hold-back:
            # the native reader would emit a torn trailing record and the
            # committed offset would jump past it
            and cfg.emit_unterminated_final_line
        )
        for fmt, items in groups.items():
            if fmt in LINE_FORMATS:
                if jvm_fast and fmt in NATIVE_LINE_FORMATS:
                    whole = [
                        w
                        for w in items
                        if w.start_offset == 0 and not _compressed(w.path)
                    ]
                    if whole:
                        # a file can vanish between listing and read; the
                        # native reader fails PLANNING on a missing path.
                        # Stat only on that failure (the listing already
                        # stat'ed every file — a happy-path pre-check would
                        # be a second full listing at 10^5 files/trigger),
                        # drop the vanished ones, and let them fall through
                        # to the Python scanner, which reports a FAILED
                        # outcome (offset not advanced; the file simply
                        # isn't listed next trigger). A file vanishing
                        # AFTER planning still fails the batch — retried.
                        try:
                            ev = read_line_format_native(
                                self.spark, whole, fmt, cfg.schema, cfg.reader_options
                            )
                        except Exception as e:
                            if "PATH_NOT_FOUND" not in str(e):
                                raise
                            whole = [w for w in whole if discovery.stat(w.path)]
                            ev = (
                                read_line_format_native(
                                    self.spark, whole, fmt, cfg.schema,
                                    cfg.reader_options,
                                )
                                if whole
                                else None
                            )
                        if ev is not None:
                            if cfg.schema is None and fmt == "jsonl":
                                # PIN the natively-inferred schema: later
                                # triggers that tail this file (or any
                                # grown/compressed file) go through the
                                # offset-aware scanner, which requires an
                                # explicit schema — without pinning, the
                                # first append after a schemaless start
                                # would stall the pipeline forever
                                cfg.schema = T.StructType(
                                    [
                                        f
                                        for f in ev.schema.fields
                                        if not f.name.startswith("_src")
                                        and f.name != "_line_no"
                                    ]
                                )
                            event_parts.append(ev)
                            native_paths.update(w.path for w in whole)
                            items = [w for w in items if w.path not in native_paths]
                            if not items:
                                continue
                # preamble + header: the header must be consumed by the
                # scanner itself (split-independent anchor; see read_lines)
                skip_hdr = bool(
                    rows_to_skip
                    and fmt in ("csv", "tsv")
                    and cfg.reader_options.get("header", True)
                )
                lines = read_lines(
                    self.spark,
                    items,
                    encoding=cfg.reader_options.get("encoding", "utf-8"),
                    emit_unterminated_final_line=cfg.emit_unterminated_final_line,
                    max_split_bytes=cfg.max_split_bytes,
                    rows_to_skip=rows_to_skip,
                    max_records_per_file=cfg.records_per_file_per_trigger,
                    skip_header_line=skip_hdr,
                    comment_prefix=(cfg.reader_options.get("csv_options") or {}).get(
                        "comment"
                    ),
                    outcomes=outcomes,
                )
                event_parts.append(self._parse_lines(fmt, lines))
            elif fmt in WHOLE_FILE_FORMATS:
                event_parts.append(
                    read_whole_file_records(
                        self.spark,
                        items,
                        fmt.removesuffix("_whole"),
                        None if fmt == "text_whole" else self._require_schema(),
                        cfg.reader_options,
                    )
                )
            elif fmt in COLUMNAR_FORMATS:
                event_parts.append(
                    read_columnar(
                        self.spark,
                        items,
                        fmt,
                        schema=cfg.schema,
                        columns=cfg.reader_options.get("columns"),
                        options=cfg.reader_options.get("spark_options"),
                    )
                )
            elif fmt == "binary":
                event_parts.append(read_binary(self.spark, items))
            elif fmt in CUSTOM_READERS:
                # plugin parser (reference: file_reader.class reflection)
                event_parts.append(
                    CUSTOM_READERS[fmt](self.spark, items, cfg.reader_options)
                )
            else:
                raise ValueError(f"unknown format: {fmt}")

        events = event_parts[0]
        for p in event_parts[1:]:
            events = events.unionByName(p, allowMissingColumns=True)
        return events, native_paths

    def _parse_lines(self, fmt: str, lines: DataFrame) -> DataFrame:
        cfg = self.config
        o = cfg.reader_options
        if fmt == "text":
            return parse_text(lines, o.get("field_name", "value"))
        if fmt == "jsonl":
            return parse_jsonl(lines, self._require_schema(), o.get("json_options"))
        if fmt in ("csv", "tsv"):
            return parse_csv(
                lines,
                self._require_schema(),
                sep=o.get("sep", "\t" if fmt == "tsv" else ","),
                header=o.get("header", True),
                options=o.get("csv_options"),
                rows_to_skip=int(o.get("rows_to_skip", 0)),
            )
        if fmt == "xml_lines":
            return parse_xml_lines(lines, self._require_schema(), o)
        if fmt == "fixedwidth":
            return parse_fixed_width(
                lines,
                o["field_lengths"],
                o.get("field_names"),
                o.get("field_types"),
                trim=o.get("trim", True),
            )
        raise ValueError(fmt)

    def _require_schema(self) -> T.StructType:
        if self.config.schema is None:
            raise ValueError(f"format {self.config.fmt!r} requires an explicit schema")
        return self.config.schema

    # ---------------------------------------------------------------- batch
    def run_once(self) -> BatchResult:
        t0 = time.monotonic()
        cfg = self.config
        seq = self.watermarks.last_seq() + 1
        batch_id = stream_batch_id(cfg.batch_id_prefix, seq)

        raw_listing = list(
            cfg.discovery_fn()
            if cfg.discovery_fn is not None
            else list_files(cfg.uris, cfg.regexp, cfg.recursive)
        )
        wm_rows = self.watermarks.load_dict()
        wm_purge: list[str] = []
        if cfg.discovery_fn is not None:
            # an event source announces each file ONCE — the engine itself
            # must re-offer (a) files the per-trigger caps dropped last
            # batch and (b) non-eof watermark rows (failed ranges, partial
            # record-cap drains, held-back torn tails) or they stall
            # forever waiting for an event that never comes. Listing
            # policies re-list, so they skip this. Stats are bounded by
            # the re-offer set (files we are about to read anyway), never
            # O(all objects).
            reoffer = dict(self._carryover)
            for p, w in wm_rows.items():
                if not w["eof"] and p not in reoffer:
                    reoffer[p] = FileMeta(p, w["file_size"], 0.0)
            for p, fm in reoffer.items():
                if discovery.stat(p):
                    raw_listing.append(fm)
                else:
                    # vanished after discovery: nothing owed — ack its
                    # message and purge any stale watermark row so the
                    # re-offer loop terminates
                    self._vanished.add(p)
                    if p in wm_rows:
                        wm_purge.append(p)
            self._carryover = {}
        # dedup by path keeping the largest size (an event queue can
        # announce the same growing object twice in one poll), then
        # path-sort for deterministic files_per_trigger batching
        by_path: dict[str, FileMeta] = {}
        for f in raw_listing:
            if f.length > 0 and (f.path not in by_path or f.length > by_path[f.path].length):
                by_path[f.path] = f
        if cfg.discovery_fn is not None:
            # zero-byte objects (empty uploads, 'folder' marker keys) are
            # filtered above and owe nothing — their event messages must
            # still ack or they redeliver forever; if the object later
            # grows, that write emits its own event
            self._vanished.update(
                f.path for f in raw_listing
                if f.length <= 0 and f.path not in by_path
            )
        listing = [by_path[p] for p in sorted(by_path)]
        forget = self._cleaned + wm_purge
        work, finished = self._plan(listing, wm_rows, set(forget))
        if cfg.discovery_fn is not None:
            planned = {w.path for w in work} | set(finished)
            self._carryover = {
                f.path: f for f in listing if f.path not in planned
            }

        # every cleanup runs after a commit names it in ``cleanup`` (so a
        # restart can finish it), and the paths it cleaned are forgotten by
        # the next commit; a failed path keeps its row and is retried
        to_clean = finished if cfg.cleanup != "none" else []
        if not work:
            # metadata-only commit, when there is something to record
            if forget or not set(self.watermarks.pending_cleanup()).issuperset(to_clean):
                c = self.watermarks.commit([], seq, removed_paths=forget, cleanup=to_clean)
                if c.app_metadata.get("forget") == forget:  # not another run's
                    self._cleaned = []
            # redelivered events for already-finished files must still ack
            # or they redeliver forever
            cleaned = self._settle(to_clean, set(finished))
            res = BatchResult(batch_id, seq, 0, 0, 0, cleaned=cleaned,
                              duration_s=time.monotonic() - t0)
            self._log_metrics(res, {})
            return res

        self._outcomes.value = []
        events, native_paths = self._read(work, self._outcomes)
        if cfg.transform is not None:
            events = cfg.transform(events)
        # error tolerance: unparseable records (null keys/ts after the
        # typed parse) are quarantined, not fatal — the reference warns
        # and continues on bad files (FsSourceTask.java:101-105). Both
        # counts are observed metrics of the merge write's own action:
        # never a separate count() job
        key_cols = [c for c in (*cfg.keys, cfg.ts_col) if c in events.columns]
        keep = F.expr(" AND ".join(f"`{c}` IS NOT NULL" for c in key_cols) or "true")
        obs = Observation()
        events = events.observe(
            obs, F.count(F.lit(1)).alias("n"), F.count_if(~keep).alias("quarantined")
        ).filter(keep)

        # schema evolution (M4): detect adds/renames vs the table schema;
        # renames apply as metadata-only commits, adds flow through the
        # union-by-name merge; the diff lands in batch metrics/lineage
        schema_diff = None
        tbl_schema = self.lake.current_schema()
        if tbl_schema is not None:
            tbl_clean = T.StructType(
                [
                    f
                    for f in tbl_schema.fields
                    if f.name != "op" and not f.name.startswith("_")
                ]
            )
            incoming = T.StructType(
                [
                    f
                    for f in events.schema.fields
                    if f.name != "op" and not f.name.startswith("_")
                ]
            )
            d = diff_schemas(tbl_clean, incoming, cfg.rename_hints)
            for old, new in d.renamed.items():
                self.lake.rename_column(old, new)
            if not d.is_noop:
                schema_diff = d.to_dict()

        # scanner bookkeeping never reaches the table: _src_end/_line_no
        # exist only for the scan (LWW ties break on _src_file/_src_offset,
        # which ARE lineage) — merging them would store two dead int64
        # columns in every data file and leak them through read()
        events = events.drop("_src_end", "_line_no")

        folded: dict = {}

        def fold_into_watermarks() -> dict:
            # runs after the merge's data write, before its commit: the
            # write ran the scan, so every scanned range has reported
            folded["ranges"] = fold_outcomes(self._outcomes.value)
            folded["md"] = offsets_metadata(
                self._watermark_updates(work, native_paths, folded["ranges"]),
                forget, to_clean,
            )
            return folded["md"]

        with _keep_empty_stages(self.spark):
            commit = self.lake.merge(
                events,
                batch_id=batch_id,
                write_salt=(
                    self._auto_salt if cfg.write_salt == "auto" else cfg.write_salt
                ),
                precommit_check=fold_into_watermarks,
            )
        if cfg.write_salt == "auto":
            self._update_auto_salt(commit)
        if commit.app_metadata != folded.get("md"):
            # another run committed this batch_id first (merge's replay or
            # split-brain guard returned its commit): finish THAT commit
            return self._finish_recovered(commit, seq, t0)
        counts = obs.get

        self._cleaned = []  # this commit forgot them
        durable = {u["path"] for u in folded["md"]["watermarks"]} | set(finished)
        cleaned = self._settle(to_clean, durable)

        if cfg.compact_every and seq > 0 and seq % cfg.compact_every == 0:
            self.lake.compact(
                min_files_per_bucket=cfg.compact_min_files_per_bucket,
                max_buckets=cfg.compact_max_buckets_per_trigger or None,
            )
            self.lake.vacuum()

        res = BatchResult(
            batch_id, seq, len(work), int(counts["n"]),
            commit.metrics.get("rows_written", 0), cleaned=cleaned,
            duration_s=time.monotonic() - t0, schema_diff=schema_diff,
            quarantined=int(counts["quarantined"]),
            ranges=_range_counts(folded["ranges"]),
        )
        self._log_metrics(res, commit.metrics, added=commit.added, version=commit.version)
        return res

    def _finish_recovered(self, commit, seq: int, t0: float) -> BatchResult:
        """Cleanup and ack of a batch another run committed first; nothing
        is written. This run's paths to forget were not in that commit, so
        the next commit forgets them with the ones cleaned here."""
        md = commit.app_metadata or {}
        cleanup = md.get("cleanup", [])
        cleaned = self._settle(cleanup, {w["path"] for w in md.get("watermarks", [])} | set(cleanup))
        res = BatchResult(
            commit.batch_id, seq, len(md.get("watermarks", [])), 0,
            commit.metrics.get("rows_written", 0), recovered=True,
            cleaned=cleaned, duration_s=time.monotonic() - t0,
        )
        self._log_metrics(res, commit.metrics, version=commit.version)
        return res

    def _watermark_updates(
        self,
        work: list[WorkItem],
        native_paths: set[str],
        ranges: dict[tuple[str, int], RangeOutcome],
    ) -> list[dict]:
        """Per-file watermark rows from the folded range outcomes;
        whole-file and columnar formats commit the full snapshot length."""
        consumed: dict[str, int] = {}
        failed: set[str] = set()
        partial: set[str] = set()
        for o in ranges.values():
            consumed[o.path] = max(consumed.get(o.path, o.consumed_end), o.consumed_end)
            if o.kind == RANGE_FAILED:
                failed.add(o.path)
            elif o.kind == RANGE_PARTIAL:
                partial.add(o.path)
        out = []
        for w in work:
            if w.path in native_paths:
                # whole file consumed via the JVM-native scan
                end = w.snap_length
            elif self._fmt_of(w.path) in LINE_FORMATS:
                if w.path in failed:
                    # ANY failed range ⇒ no progress for the whole file:
                    # it is re-read from the committed offset next
                    # trigger (reference semantics: warn + continue; the
                    # idempotent MERGE absorbs the partial emit)
                    end = w.start_offset
                else:
                    end = consumed.get(w.path, w.start_offset)
            else:
                end = w.snap_length
            end = max(end, w.start_offset)
            # compressed offsets are decompressed-bytes, so eof can NEVER
            # be end>=size (decompressed end typically exceeds compressed
            # size even when records were held back — e.g. by the
            # records-per-file cap's PARTIAL outcome); for compressed
            # files eof means "stream fully consumed this trigger":
            # every range read successfully, nothing held back
            if _compressed(w.path):
                eof = w.path not in failed and w.path not in partial
            else:
                eof = bool(end >= w.snap_length)
            out.append(
                {
                    "path": w.path,
                    "committed_offset": int(end),
                    "file_size": int(w.snap_length),
                    "eof": eof,
                }
            )
        return out

    def run(self, policy, stop_on_error: bool = False) -> list[BatchResult]:
        """Drain a trigger policy (streaming/triggers.py).

        By default a failed batch is logged and the loop continues with the
        next trigger — the reference's poll loop warns and returns an empty
        batch on policy errors (FsSourceTask.java:127-133). Nothing is
        half-committed: a batch's rows and offsets are one commit, so the
        next trigger re-plans from the last committed offsets.
        ``stop_on_error=True`` propagates instead.
        """
        results: list[BatchResult] = []
        for _ in policy.triggers():
            try:
                results.append(self.run_once())
            except Exception as e:
                if stop_on_error:
                    raise
                log.exception("batch failed, will retry next trigger: %s", e)
        return results

    # ---------------------------------------------------------- auto salt
    def _update_auto_salt(self, commit) -> None:
        """Feedback controller for the hot-conv_id write salt
        (write_salt="auto"): size the NEXT batch's salt from the
        per-bucket row counts this commit's manifest already carries —
        zero extra Spark jobs. Per-bucket rows are salt-independent (the
        salt splits a bucket's rows across files WITHIN the bucket), so
        the measurement is unbiased whatever salt this batch used. Rise
        is immediate (the hot bucket would otherwise serialize its write
        into one task next batch too); decay is one step per calm batch
        (a transient spike shouldn't keep fragmenting files that
        compaction then has to fold)."""
        by_bucket: dict[int, int] = {}
        for a in commit.added:
            b = a.get("bucket")
            by_bucket[b] = by_bucket.get(b, 0) + int(a.get("rows", 0))
        hot = max(by_bucket.values(), default=0)
        target = max(1, int(self.config.target_rows_per_write_task))
        desired = min(int(self.config.max_write_salt), -(-hot // target))
        self._auto_salt = (
            desired if desired >= self._auto_salt else max(1, self._auto_salt - 1)
        )

    # -------------------------------------------------------------- cleanup
    def _settle(self, cleanup: list[str], durable: set[str]) -> list[str]:
        """After a commit, clean the files it names (the next commit forgets
        them) and ack the discovery messages of the ``durable`` paths: their
        offsets are committed, or they are finished or vanished. Capped-out
        paths stay pending until their own offsets land."""
        cleaned = self._cleanup(cleanup)
        self._cleaned = list(dict.fromkeys(self._cleaned + cleaned))
        if self.config.discovery_ack_fn is not None:
            self.config.discovery_ack_fn(durable | self._vanished)
            self._vanished = set()
        return cleaned

    def _resume_cleanup(self) -> list[str]:
        """Finish the last commit's cleanup, which a stop may have cut short,
        on the files that are still the ones it finished: the planner calls
        them finished and they predate the commit. The rest (gone, or
        recreated after their cleanup) count as cleaned untouched: the next
        commit forgets their offsets, so a recreated file is read from 0."""
        pending = self.watermarks.pending_cleanup()
        if not pending:
            return []
        last = stream_batch_id(self.config.batch_id_prefix, self.watermarks.last_seq())
        written = os.path.getmtime(self.lake._log_path(self.lake._state_full().batch_ids[last]))
        unchanged = [m for m in map(discovery.stat, pending) if m and m.mtime < written]
        _, finished = self._plan(unchanged, self.watermarks.load_dict())
        return [p for p in pending if p not in finished] + self._cleanup(finished)

    def _cleanup(self, paths: list[str]) -> list[str]:
        """Apply NONE/MOVE/DELETE to fully-consumed files
        (AbstractPolicy.java:281-331, which routes through Hadoop FS for
        ANY scheme — here the pyarrow FileSystem ``fs_of`` resolves).

        Returns only the paths whose side-effect actually applied (or was
        verifiably already applied — NotFound under replay). A failed path
        is warned and SKIPPED: its watermark row survives, so the file is
        retried next trigger instead of being silently re-ingested forever."""
        mode = self.config.cleanup
        if mode == "none" or not paths:
            return []
        done = []
        for p in paths:
            try:
                self._cleanup_one(p, mode)
                done.append(p)
            except OSError as e:
                # transient I/O only — deterministic config errors
                # (unknown mode, missing move dir, cross-FS move) raise at
                # __init__ or propagate here instead of retrying forever
                log.warning("cleanup failed for %s, will retry: %s", p, e)
        return done

    def _cleanup_one(self, p: str, mode: str) -> None:
        fs, sub = discovery.fs_of(p)
        if fs.get_file_info(sub).type == pafs.FileType.NotFound:
            return  # already cleaned (replay) — the ONLY idempotent case
        if mode == "delete":
            fs.delete_file(sub)
            return
        dest_dir = self.config.cleanup_move_dir
        dfs, dsub = discovery.fs_of(dest_dir, bare=fs)
        if type(dfs) is not type(fs):
            raise ValueError(
                f"cleanup_move_dir {dest_dir!r} is on a different filesystem than {p!r}"
            )
        fs.create_dir(dsub, recursive=True)
        dest = f"{dsub.rstrip('/')}/{self.config.cleanup_move_prefix}{os.path.basename(sub)}"
        try:
            fs.move(sub, dest)
        except OSError as e:
            if e.errno != errno.EXDEV:
                raise
            # a local rename cannot cross devices: copy, then delete. Unlike
            # a rename, the copy carries the copy time as its mtime and the
            # umask's mode, not the source's
            pafs.copy_files(sub, dest, source_filesystem=fs, destination_filesystem=fs)
            fs.delete_file(sub)

    # -------------------------------------------------------------- metrics
    def _log_metrics(
        self, res: BatchResult, merge_metrics: dict, added=None, version=None
    ) -> None:
        rec = {
            "batch_id": res.batch_id,
            "lake_version": version,
            "seq": res.seq,
            "n_files": res.n_files,
            "n_events": res.n_events,
            "rows_written": res.rows_written,
            "recovered": res.recovered,
            "cleaned": len(res.cleaned),
            "duration_s": round(res.duration_s, 4),
            "quarantined": res.quarantined,
            "ranges": res.ranges,
            "merge": merge_metrics,
        }
        if res.schema_diff:
            rec["schema_diff"] = res.schema_diff
        if added:
            per_bucket: dict[int, int] = {}
            for a in added:
                per_bucket[a["bucket"]] = per_bucket.get(a["bucket"], 0) + a["rows"]
            rec["rows_per_bucket"] = {str(k): v for k, v in sorted(per_bucket.items())}
        with open(self._metrics_path, "a") as f:
            f.write(json.dumps(rec) + "\n")


def fold_outcomes(outcomes: list[RangeOutcome]) -> dict[tuple[str, int], RangeOutcome]:
    """One outcome per scanned range, keyed (path, range_start). Spark
    re-adds the accumulator updates of a re-executed scan task: identical
    duplicates collapse into one. Two different outcomes for one range mean
    the bytes changed between the two scans (a source file vanished or was
    rewritten mid-batch), so the write may not match any offset derived
    from them — raising here, before the commit, makes the batch replay."""
    out: dict[tuple[str, int], RangeOutcome] = {}
    for o in outcomes:
        seen = out.setdefault((o.path, o.range_start), o)
        if seen != o:
            raise RuntimeError(
                f"range {o.path}@{o.range_start} reported two outcomes "
                f"({tuple(seen)} and {tuple(o)}): the scan results changed "
                "during the merge write — aborting before commit; the batch "
                "will replay"
            )
    return out


@contextmanager
def _keep_empty_stages(spark: SparkSession):
    """AQE's empty-relation rule off for the merge only: when every record
    is quarantined, the rule drops the write's empty input stage with its
    CollectMetrics node, and Observation.get fails after the commit."""
    key = "spark.sql.adaptive.optimizer.excludedRules"
    rule = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
    before = spark.conf.get(key, None)
    spark.conf.set(key, ",".join(filter(None, [before, rule])))
    try:
        yield
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def _range_counts(ranges: dict) -> dict[str, int]:
    kinds = [o.kind for o in ranges.values()]
    return {k: kinds.count(k) for k in (RANGE_OK, RANGE_PARTIAL, RANGE_FAILED)}


def _compressed(path: str) -> bool:
    # single source of truth with the scanner: a new codec extension added
    # there (e.g. .zst) must change planning semantics here too
    from kafka_connect_fs_spark.sources.readers import _compression_of

    return _compression_of(path) is not None
