"""Vectorized file readers — the reference's ``FileReader`` hierarchy, Spark-first.

Reference design (file/reader/*.java): one row-at-a-time Java iterator per
file, offset = records or bytes consumed, ``seek(offset)`` to resume. Here:

Every Python-side reader runs on one primitive, ``_scan_bins``: the Spark
driver plans work items (byte ranges, whole files, COBOL record runs) and
packs them into byte-balanced bins — ``defaultParallelism`` of them, or
one per split of the batch if that is more — and one Arrow-batched Python
task opens and scans one bin's files itself. A batch of many small files pays
the Python worker's fixed cost once per core, not once per file, and no
work list is shuffled.

- **Tailable line formats** (text / JSON-lines / CSV / TSV / fixed-width):
  the byte-range reader turns ``(path, start, end)`` work items into Arrow
  batches of raw lines with exact byte offsets; *parsing* then happens
  JVM-side with ``from_csv`` / ``from_json`` (whole-stage codegen, no
  per-row Python). Large files are split Hadoop-style at arbitrary byte
  boundaries with newline re-alignment, so one hot file parallelizes
  across the cluster — something the reference's one-iterator-per-file
  model cannot do. Each range reports its outcome (consumed end, OK /
  PARTIAL / FAILED, record count) into a caller-supplied accumulator from
  inside the task, so the caller learns its resume offsets from the same
  Spark job that consumes the lines.
- **Self-describing columnar formats** (Parquet / Avro / ORC): native
  ``spark.read`` (vectorized scans, predicate pushdown, column pruning
  — the reference's hand-built Parquet ``projection``,
  ParquetFileReader.java:47-49, is Catalyst column pruning here). These are
  rotate-based: a file is ingested whole on first sight (the reference's
  "seek" for Parquet is also re-init+skip, ParquetFileReader.java:87-96).
  Without the spark-avro jar, Avro containers decode in one Python stage.
- **Whole-file-record formats** (YAML / XML / whole-file JSON / text with
  record_per_line=false): one Python stage reads each file and converts
  it to a JSON string per record, so only record text crosses the Arrow
  boundary; typing is again JVM-side ``from_json``.

Offsets are byte positions in the (decompressed) stream; gzip/bz2 files
(CompressionType.java:3-23) cannot be random-accessed, so their tail resume
decompresses and skips — same asymptotics as the reference's
"reopen and skip lines" seek (TextFileReader.java:113-124).
"""

from __future__ import annotations

import base64
import bz2
import datetime
import decimal
import gzip
import heapq
import io
import json
import logging
import os
from dataclasses import dataclass
from typing import Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark import AccumulatorParam
from pyspark.sql import types as T

from kafka_connect_fs_spark.sources import discovery

log = logging.getLogger("kafka_connect_fs_spark")

# per-range outcome kinds
RANGE_OK = "ok"  # range fully consumed up to its responsibility end
RANGE_FAILED = "failed"  # read error: offset must not advance past range_start
RANGE_PARTIAL = "partial"  # read ok but tail held back (unterminated line or
# record cap): consumed_end < snapshot end ⇒ not eof


class RangeOutcome(NamedTuple):
    """What one scanned byte range reports back to the driver."""

    path: str
    range_start: int
    consumed_end: int  # resume point: end of the last line this range owns
    kind: str  # RANGE_OK | RANGE_PARTIAL | RANGE_FAILED
    records: int  # lines emitted


class _ListParam(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def outcome_accumulator(spark: SparkSession):
    """An accumulator that collects ``RangeOutcome``s from scan tasks.
    Spark re-adds the updates of a re-executed task, so the same outcome
    can arrive more than once."""
    return spark.sparkContext.accumulator([], _ListParam())

LINE_SCHEMA = T.StructType(
    [
        T.StructField("_src_file", T.StringType(), False),
        T.StructField("_src_offset", T.LongType(), False),
        T.StructField("_src_end", T.LongType(), False),
        T.StructField("_line_no", T.LongType(), False),
        T.StructField("value", T.StringType(), True),
    ]
)

@dataclass(frozen=True)
class WorkItem:
    """One file (or file byte-range) to read this micro-batch."""

    path: str
    start_offset: int  # committed resume point (line-aligned by construction)
    snap_length: int  # listing-time size: read no further (file may grow mid-read)


# --------------------------------------------------------------------- io


def _compression_of(path: str) -> str | None:
    if path.endswith(".gz"):
        return "gzip"
    if path.endswith(".bz2"):
        return "bz2"
    return None


def _open_raw(path: str):
    fs, sub = discovery.fs_of(path)
    # buffered: pyarrow's NativeFile has no readline(), which the range
    # scanner needs to skip into a split and to finish a straddling line
    return io.BufferedReader(fs.open_input_file(sub))


def _read_decompressed(path: str, limit_compressed: int | None = None) -> bytes:
    comp = _compression_of(path)
    with _open_raw(path) as f:
        # `is not None`, NOT truthiness: limit 0 means a zero-length
        # snapshot (read nothing), never "no limit" — a falsy check would
        # read bytes written AFTER the listing snapshot
        raw = f.read(limit_compressed) if limit_compressed is not None else f.read()
    if comp == "gzip":
        return gzip.decompress(raw)
    if comp == "bz2":
        return bz2.decompress(raw)
    return raw


# ------------------------------------------------------------- line reader


def plan_line_splits(
    items: list[WorkItem], max_split_bytes: int = 128 * 1024 * 1024
) -> list[tuple[str, int, int, int, int]]:
    """Split large uncompressed files into Hadoop-style byte ranges.

    Each split emits exactly the lines whose first byte falls in
    [range_start, range_end); a split that starts past the resume point
    skips to the first newline, and every split reads past range_end to
    finish its last line — the classic TextInputFormat contract, so no
    line is lost or duplicated across splits.
    """
    rows = []
    for w in items:
        if _compression_of(w.path) or w.snap_length - w.start_offset <= max_split_bytes:
            rows.append((w.path, w.start_offset, w.snap_length, w.start_offset, w.snap_length))
        else:
            pos = w.start_offset
            while pos < w.snap_length:
                end = min(pos + max_split_bytes, w.snap_length)
                rows.append((w.path, w.start_offset, w.snap_length, pos, end))
                pos = end
    return rows


def _pack(sizes: list[int], k: int) -> list[list[int]]:
    """Indices of ``sizes`` packed into at most ``k`` bins balanced by
    total size: largest first, each into the currently lightest bin."""
    k = max(1, min(k, len(sizes)))
    heap = [(0, b) for b in range(k)]
    bins: list[list[int]] = [[] for _ in range(k)]
    for i in sorted(range(len(sizes)), key=lambda i: -sizes[i]):
        load, b = heapq.heappop(heap)
        bins[b].append(i)
        heapq.heappush(heap, (load + sizes[i], b))
    return bins


def _scan_bins(
    spark: SparkSession, work: list, sizes: list[int], scan_one, schema,
    split_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """One Python task per bin of ``work``, packed by ``sizes`` into
    ``max(defaultParallelism, ceil(sum(sizes) / split_bytes))`` bins;
    ``scan_one(item)`` yields the pandas frames of one work item. The bins
    travel in the task closure and each task is one ``spark.range`` id, so
    there is no work-list DataFrame to shuffle. A Python stage has a
    fixed cost far above a small tail's scan time (on 4 cores an empty
    4-task ``mapInPandas`` stage takes ~0.2 s against ~0.05 s for a
    JVM-only one, with kafka_connect_fs_spark/daemon.py keeping workers
    from re-reading pyspark.zip), so many small items collapse into one
    task per core; a large scan keeps about one
    task per ``split_bytes``, so one hot file still spreads over the
    cluster and a retried task re-scans one split's worth. Empty ``work``
    is an empty frame the optimizer folds to a ``LocalRelation``: it runs
    no job."""
    if not work:
        return spark.createDataFrame([], schema).limit(0)
    k = max(spark.sparkContext.defaultParallelism, -(-sum(sizes) // split_bytes))
    bins = [[work[i] for i in b] for b in _pack(sizes, k)]

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for b in pdf["id"]:
                for item in bins[b]:
                    yield from scan_one(item)

    return spark.range(len(bins), numPartitions=len(bins)).mapInPandas(scan, schema)


def read_lines(
    spark: SparkSession,
    items: list[WorkItem],
    encoding: str = "utf-8",
    emit_unterminated_final_line: bool = True,
    max_split_bytes: int = 128 * 1024 * 1024,
    arrow_batch_rows: int = 10_000,
    rows_to_skip: int = 0,
    max_records_per_file: int = 0,
    skip_header_line: bool = False,
    comment_prefix: str | None = None,
    outcomes=None,
) -> DataFrame:
    """Distributed byte-range line scan → DataFrame of raw lines + lineage.

    Replaces TextFileReader/UnivocityFileReader's iterator loop
    (TextFileReader.java:80-112). ``_src_offset``/``_src_end`` are byte
    offsets in the decompressed stream — the resume watermark unit.

    ``outcomes`` (an ``outcome_accumulator``) receives one ``RangeOutcome``
    per scanned range, added from inside the task whenever an action runs
    the scan, so a caller tracking resume offsets learns them — and any
    failed range it must not commit past — from the action that consumes
    the lines (the engine's merge write).
    """
    # the scanner splits the RAW BYTE stream on b"\n" — only sound for
    # encodings where "\n" is the single byte 0x0A and 0x0A never appears
    # inside another character (utf-8, latin-1, cp125x, ascii...). utf-16/
    # utf-32 would tear code units and commit offsets mid-character.
    if "\n".encode(encoding) != b"\n":
        raise ValueError(
            f"encoding {encoding!r} is not newline-byte-compatible; the "
            "byte-range line scanner supports ASCII-supersets only "
            "(utf-8, latin-1, ...)"
        )
    # record-cap semantics are per FILE per trigger
    # (file_reader.batch_size, AbstractFileReader.java:76-86): one range
    # per file so split-level caps can't multiply to N x splits. The cap
    # already bounds per-task work, so losing intra-file splits costs
    # nothing.
    rows = plan_line_splits(items, 1 << 60 if max_records_per_file else max_split_bytes)

    def scan_range(r: tuple) -> Iterator[pd.DataFrame]:
        path, start_offset, snap_length, range_start, range_end = r
        try:
            out = yield from _scan_one_range(
                path,
                start_offset,
                snap_length,
                range_start,
                range_end,
                encoding,
                emit_unterminated_final_line,
                arrow_batch_rows,
                rows_to_skip,
                max_records_per_file,
                skip_header_line,
                comment_prefix,
            )
        except (OSError, EOFError, ValueError) as e:
            # per-file error tolerance: warn + continue, offset not
            # advanced (the reference's FsSourceTask.java:101-105). The
            # engine only advances a file's offset when NO range of it
            # failed — a failed early split with a successful later split
            # must not commit past the hole (the tail is re-read next
            # trigger; idempotent LWW absorbs the partial emit)
            log.warning("unreadable file range %s: %s", path, e)
            out = RangeOutcome(path, range_start, range_start, RANGE_FAILED, 0)
        if outcomes is not None:
            outcomes.add([out])

    # compressed ranges decompress the whole stream: weigh them by file size
    sizes = [r[2] if _compression_of(r[0]) else r[4] - r[3] for r in rows]
    return _scan_bins(spark, rows, sizes, scan_range, LINE_SCHEMA, max_split_bytes)


def _scan_one_range(
    path: str,
    start_offset: int,
    snap_length: int,
    range_start: int,
    range_end: int,
    encoding: str,
    emit_final: bool,
    batch_rows: int,
    rows_to_skip: int = 0,
    max_records: int = 0,
    skip_header: bool = False,
    comment_prefix: str | None = None,
) -> Iterator[pd.DataFrame]:
    """Vectorized range scan: ONE read, ONE bytes.split, numpy cumsum for
    offsets — no per-line Python loop (the reference's readLine() iterator,
    TextFileReader.java:80-112, inverted into batch form).

    Split contract (Hadoop LineRecordReader): a split with range_start past
    the resume point seeks to range_start-1 and discards through the first
    newline — so a line starting exactly AT the boundary is kept by this
    split and a straddling line by the previous one (which reads past its
    range_end to finish it).

    Returns the range's ``RangeOutcome``: OK if the range consumed up to
    its responsibility end (range_end / snapshot end), PARTIAL if a final
    unterminated line (or the record cap's remainder) was held back — the
    engine needs this to distinguish "fully consumed" from "tail pending",
    which offsets alone cannot express for compressed streams.
    """
    import numpy as np

    comp = _compression_of(path)
    clamp_truncated = False  # last line torn by the snapshot clamp?
    if comp:
        # offsets for compressed files are in *decompressed* bytes (the
        # compressed listing size only detects growth); no intra-file
        # splits. Read the whole stream: a gzip stream truncated mid-member
        # is not decodable.
        data = _read_decompressed(path)
        logical_end = len(data)
        pos = range_start
        buf = data[pos:logical_end]
        at_end = True
    else:
        logical_end = snap_length
        stream = _open_raw(path)
        try:
            pos = range_start
            if range_start > start_offset:
                stream.seek(pos - 1)
                skipped = stream.readline()  # partial line → previous split
                pos = range_start - 1 + len(skipped)
                # If the skipped line did NOT terminate within the listing
                # snapshot, the OWNING (previous) split held it back as torn
                # (clamp_truncated) — this split must claim NOTHING, or its
                # OK outcome (pos >= logical_end) would win the engine's
                # max(consumed_end) and commit past the held-back bytes,
                # permanently skipping them. Terminated-in-snapshot means a
                # newline at or before logical_end; a newline-less tail
                # ending exactly at the snapshot is claimed by the owner
                # split only under emit_final.
                terminated = skipped.endswith(b"\n") and pos <= logical_end
                final_claimed = (
                    not skipped.endswith(b"\n") and pos == logical_end and emit_final
                )
                if not (terminated or final_claimed):
                    return RangeOutcome(
                        path, range_start, start_offset, RANGE_PARTIAL, 0
                    )
                if pos >= min(range_end, logical_end):
                    return RangeOutcome(path, range_start, pos, RANGE_OK, 0)
            else:
                stream.seek(pos)
            limit = min(range_end, logical_end) - pos
            if max_records:
                # bounded read (file_reader.batch_size): pull chunks only
                # until the cap's worth of complete lines is present — a
                # 100-record poll of a 10 GB file must not read 10 GB
                need = max_records + (rows_to_skip if range_start == 0 else 0)
                chunks, seen, remaining = [], 0, limit
                while remaining > 0 and seen <= need:
                    chunk = stream.read(min(1 << 20, remaining))
                    if not chunk:
                        break
                    chunks.append(chunk)
                    remaining -= len(chunk)
                    seen += chunk.count(b"\n")
                buf = b"".join(chunks)
            else:
                buf = stream.read(limit)
            full_read = pos + len(buf) >= min(range_end, logical_end)
            if buf and not buf.endswith(b"\n") and full_read:
                # finish the straddling last line (clamped to the snapshot)
                extra = stream.readline()
                if extra:
                    avail = max(0, logical_end - pos - len(buf))
                    if len(extra) > avail:
                        # the line continues PAST the listing-time snapshot:
                        # the file grew mid-read and this line is torn, not
                        # ended. It must be held back (not emitted as a
                        # corrupt half-record with the offset committed
                        # mid-line) — emit_final is only for true
                        # EOF-without-newline, never for a clamped tail.
                        clamp_truncated = True
                    buf += extra[:avail]
        finally:
            stream.close()
        at_end = pos + len(buf) >= logical_end

    if not buf:
        return RangeOutcome(path, range_start, pos, RANGE_OK, 0)

    fully_terminated = buf.endswith(b"\n")
    parts = buf.split(b"\n")
    if fully_terminated:
        parts.pop()  # trailing empty piece
    unterminated_last = not fully_terminated
    held_back = False
    if unterminated_last and (clamp_truncated or not (emit_final and at_end)):
        parts.pop()  # still-growing tail: hold back for a later trigger
        unterminated_last = False
        held_back = True
        if not parts:
            return RangeOutcome(path, range_start, pos, RANGE_PARTIAL, 0)

    lens = np.fromiter((len(p) for p in parts), dtype=np.int64, count=len(parts))
    starts = pos + np.concatenate(([0], np.cumsum(lens[:-1] + 1)))
    ends = starts + lens + 1
    if unterminated_last:
        ends[-1] -= 1  # no trailing newline consumed

    # decode ONCE ('\n' never occurs inside a multi-byte utf-8 sequence, so
    # text split boundaries align with the byte split)
    tparts = buf.decode(encoding, errors="replace").split("\n")[: len(parts)]

    emit_from = 0
    if (rows_to_skip or skip_header) and range_start == 0:
        # preamble skip (UnivocityFileReader rows_to_skip): the first N
        # lines of the FILE are consumed (offsets advance past them) but
        # never emitted. Only the range anchored at byte 0 holds them;
        # resumed tails start past the already-skipped preamble. (Caveat:
        # if the very first snapshot of a growing file held fewer than N
        # lines, the remainder is not re-skipped on the tail — preamble
        # formats are static files in practice.)
        emit_from = min(rows_to_skip, len(parts))
        if skip_header and emit_from < len(parts):
            # consume the header HERE, split-independently: per-split line
            # numbers cannot anchor it downstream (non-zero ranges number
            # from 0). Univocity order: comments are skipped BEFORE header
            # detection, so the header is the first non-comment line after
            # the preamble.
            cb = comment_prefix.encode(encoding) if comment_prefix else None
            while (
                cb is not None
                and emit_from < len(parts)
                and parts[emit_from].startswith(cb)
            ):
                emit_from += 1
            if emit_from < len(parts):
                emit_from += 1  # the header line itself
        if emit_from == len(parts):
            return RangeOutcome(
                path,
                range_start,
                int(ends[-1]),
                RANGE_PARTIAL if held_back else RANGE_OK,
                0,
            )

    emit_to = len(parts)
    if max_records and emit_to - emit_from > max_records:
        # record cap: admit exactly max_records lines; the PARTIAL outcome
        # pins the committed offset at the last admitted line's end so the
        # next trigger resumes there (no loss, no duplication)
        emit_to = emit_from + max_records

    for lo in range(emit_from, emit_to, batch_rows):
        hi = min(lo + batch_rows, emit_to)
        # strip AT MOST one trailing \r (the CRLF terminator) — rstrip
        # would also eat carriage returns that are part of the payload
        vals = pd.Series(tparts[lo:hi], dtype=object).str.replace(
            r"\r$", "", regex=True
        )
        yield pd.DataFrame(
            {
                "_src_file": path,
                "_src_offset": starts[lo:hi],
                "_src_end": ends[lo:hi],
                "_line_no": np.arange(lo, hi, dtype=np.int64),
                "value": vals.values,
            }
        )

    return RangeOutcome(
        path,
        range_start,
        int(ends[emit_to - 1]),
        RANGE_PARTIAL if (held_back or emit_to < len(parts)) else RANGE_OK,
        emit_to - emit_from,
    )


def read_line_format_native(
    spark: SparkSession,
    items: list[WorkItem],
    fmt: str,
    schema: T.StructType | None,
    options: dict | None = None,
) -> DataFrame:
    """JVM-native whole-file fast path for line formats (jsonl/csv/tsv/text).

    Files being read from offset 0 (new or rotated — the dominant case) need
    no byte-offset tracking: the whole file is consumed, so the watermark
    commits snap_length directly. That lets the scan use Spark's native
    text/json/csv datasources — vectorized, whole-stage-codegen, no
    Python/Arrow round-trip — instead of the Python byte-range scanner
    (which remains the *tail* path, where byte offsets are the resume unit).

    Lineage: ``_src_offset`` is ``monotonically_increasing_id`` — a
    deterministic, file-order-correlated ordinal (stable for an identical
    file set + split config), used only as the LWW tie-break. Ordinals are
    < #bytes of the file, so tail reads appended later (byte offsets ≥ old
    file length) still sort after them.
    """
    o = dict(options or {})
    paths = [w.path for w in items]
    if not paths:
        return spark.createDataFrame([], schema or T.StructType([]))
    if fmt == "jsonl":
        # NB: no ignoreMissingFiles — a file vanishing mid-scan must FAIL
        # the batch (retried; next listing drops it) rather than silently
        # yield nothing while the watermark commits full consumption
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.options(**o.get("json_options", {}) or {}).json(paths)
    elif fmt in ("csv", "tsv"):
        opts = {
            "sep": o.get("sep", "\t" if fmt == "tsv" else ","),
            "header": str(o.get("header", True)).lower(),
            "mode": "PERMISSIVE",
        }
        opts.update(o.get("csv_options", {}) or {})
        reader = spark.read.options(**opts)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.csv(paths)
    elif fmt == "text":
        df = spark.read.text(paths).withColumnRenamed(
            "value", o.get("field_name", "value")
        )
    else:
        raise ValueError(f"no native path for format: {fmt}")
    # input_file_name() returns the PERCENT-ENCODED URI (space→%20, %→%25;
    # '+' stays literal — so F.url_decode, which maps '+'→space, is NOT the
    # inverse). Paths with URI-special characters get an exact driver-built
    # encoded→raw map (bounded by this batch's files and EMPTY for ordinary
    # paths); everything else takes the cheap prefix-strip. Without this, a
    # native row's _src_file ('/tmp/my%20file.csv') differs from the
    # scanner's listing path ('/tmp/my file.csv') and the LWW tie-break's
    # new-data-wins ordering inverts.
    import urllib.parse

    def _encoded_uri(p: str) -> str:
        safe = "/!$&'()*+,;=:@-._~"  # RFC 3986 pchar set (Java URI paths)
        if "://" in p:
            scheme, rest = p.split("://", 1)
            return f"{scheme}://{urllib.parse.quote(rest, safe=safe)}"
        return "file://" + urllib.parse.quote(p, safe=safe)

    enc_map = {}
    for p in paths:
        enc = _encoded_uri(p)
        if enc != (p if "://" in p else "file://" + p):  # encoding changed it
            enc_map[enc] = p
    src_expr = F.regexp_replace(F.input_file_name(), r"^file:/+", "/")
    if enc_map:
        kv: list = []
        for k, v in enc_map.items():
            kv += [F.lit(k), F.lit(v)]
        src_expr = F.coalesce(
            F.element_at(F.create_map(*kv), F.input_file_name()), src_expr
        )
    return df.select(
        # normalize the file: URI back to the listing's raw path form so
        # LWW tie-breaks compare like with like across native and tail reads
        src_expr.alias("_src_file"),
        # ordinal shifted negative: monotonically_increasing_id carries the
        # partition index in its upper bits (can exceed any byte offset), so
        # ties between a native row and a LATER appended tail row (byte
        # offsets ≥ 0) must resolve to the tail — new data wins
        (F.monotonically_increasing_id() - F.lit(1 << 62)).alias("_src_offset"),
        "*",
    )


# --------------------------------------------------------- line-format parsers


def parse_text(lines: DataFrame, field_name: str = "value") -> DataFrame:
    """TextFileReader semantics: one record per line, single string field
    (TextFileReader.java:50-53, configurable field name)."""
    if field_name != "value":
        lines = lines.withColumnRenamed("value", field_name)
    return lines


def parse_jsonl(lines: DataFrame, schema: T.StructType, options: dict | None = None) -> DataFrame:
    """JsonFileReader semantics with a pinned schema (the reference infers
    from record 0 — JacksonFileReader.java:35-43; use ``infer_json_schema``
    for that behavior). Parsing is JVM-side ``from_json``."""
    parsed = lines.withColumn("_rec", F.from_json(F.col("value"), schema, options or {}))
    return parsed.select("_src_file", "_src_offset", "_src_end", "_line_no", "_rec.*")


def parse_csv(
    lines: DataFrame,
    schema: T.StructType,
    sep: str = ",",
    header: bool = True,
    options: dict | None = None,
    rows_to_skip: int = 0,
) -> DataFrame:
    """CSV/TSV semantics (CsvFileReader.java / TsvFileReader.java /
    UnivocityFileReader.java): declared positional schema, optional header
    row (dropped where the file's first line starts at byte 0), null-on-
    cast-failure (``mode=PERMISSIVE`` ≈ ``data_type_mapping_error=false``).

    Option parity with the reference's Univocity settings:
    - ``comment``: lines whose first char is the comment char are no
      records (settings.format.comment, UnivocityFileReader.java:53)
    - ``mode="FAILFAST"`` ≈ ``data_type_mapping_error=true`` (:41,123):
      malformed rows raise instead of nulling out
    - quote/escape/nullValue/emptyValue pass straight through to
      ``from_csv`` (same Univocity engine underneath)
    - preamble skipping (rows_to_skip, :48) happens upstream in
      read_lines; pass the same ``rows_to_skip`` here so the header — the
      first line AFTER the preamble — is still recognized and dropped.
    """
    opts = {"sep": sep, "mode": "PERMISSIVE"}
    opts.update(options or {})
    comment = opts.pop("comment", None)
    if header and rows_to_skip:
        # preamble + header: the SCANNER already consumed both (read_lines
        # skip_header_line — the only split-safe place to anchor the
        # header, since non-zero byte ranges number their lines from 0).
        # Only the comment filter remains to apply here.
        if comment:
            lines = lines.filter(~F.col("value").startswith(comment))
    elif header and comment:
        # Univocity processes comments BEFORE header detection
        # (UnivocityFileReader.java:53): the header is the first
        # NON-comment line of a scan that started at byte 0. That needs a
        # per-file window (comment+header files only — the common paths
        # below stay windowless): flag fresh-scan files (some line at
        # byte 0 — split-safe: ordering is by _src_offset), filter
        # comments, drop the first survivor.
        from pyspark.sql import Window

        wf = Window.partitionBy("_src_file")
        wo = Window.partitionBy("_src_file").orderBy("_src_offset")
        lines = lines.withColumn("_scan0", F.min("_src_offset").over(wf) == 0)
        lines = lines.filter(~F.col("value").startswith(comment))
        lines = (
            lines.withColumn("_rn", F.row_number().over(wo))
            .filter(~(F.col("_scan0") & (F.col("_rn") == 1)))
            .drop("_scan0", "_rn")
        )
    elif comment:
        lines = lines.filter(~F.col("value").startswith(comment))
    elif header:
        lines = lines.filter(~((F.col("_src_offset") == 0) & (F.col("_line_no") == 0)))
    parsed = lines.withColumn("_rec", F.from_csv(F.col("value"), schema.simpleString(), opts))
    return parsed.select("_src_file", "_src_offset", "_src_end", "_line_no", "_rec.*")


def parse_fixed_width(
    lines: DataFrame,
    field_lengths: list[int],
    field_names: list[str] | None = None,
    field_types: list[str] | None = None,
    trim: bool = True,
) -> DataFrame:
    """FixedWidthFileReader semantics (FixedWidthFileReader.java:15-50):
    positional byte slices — vectorized ``substring`` + ``cast``, all JVM-side.
    """
    names = field_names or [f"column_{i+1}" for i in range(len(field_lengths))]
    types = field_types or ["string"] * len(field_lengths)
    cols = [F.col(c) for c in ("_src_file", "_src_offset", "_src_end", "_line_no")]
    pos = 1
    for name, length, typ in zip(names, field_lengths, types):
        c = F.substring(F.col("value"), pos, length)
        if trim:
            c = F.trim(c)
        cols.append(c.cast(typ).alias(name))
        pos += length
    return lines.select(*cols)


def infer_json_schema(spark: SparkSession, path: str, encoding: str = "utf-8") -> T.StructType:
    """Reference behavior: infer the schema from the FIRST record only
    (JacksonFileReader.java:35-43) — driver-side single small read."""
    data = _read_decompressed(path)
    first = data.split(b"\n", 1)[0].decode(encoding, errors="replace")
    df = spark.createDataFrame([(first,)], "value string").select(
        F.from_json("value", F.schema_of_json(F.lit(first))).alias("r")
    )
    return df.select("r.*").schema


def infer_csv_header(path: str, sep: str = ",", encoding: str = "utf-8") -> list[str]:
    """Read header names from the file (UnivocityFileReader.java:90-112)."""
    data = _read_decompressed(path)
    first = data.split(b"\n", 1)[0].decode(encoding, errors="replace").rstrip("\r")
    return first.split(sep)


def detect_delimiter(
    path: str,
    candidates: str = ",;\t|",
    sample_lines: int = 20,
    encoding: str = "utf-8",
) -> str:
    """Sniff the column delimiter from the first lines (the reference's
    ``delimiter_detection`` setting, CsvFileReader.java:15,30 — Univocity's
    detection sampled the input the same way). Picks the candidate that
    splits every sampled line into the same >1 column count; ties go to the
    most columns. Driver-side, one small read."""
    data = _read_decompressed(path, limit_compressed=None if _compression_of(path) else 1 << 20)
    lines = [
        ln for ln in data.decode(encoding, errors="replace").split("\n")[:sample_lines] if ln
    ]
    if not lines:
        return candidates[0]
    best, best_cols = candidates[0], 0
    for cand in candidates:
        counts = {ln.count(cand) for ln in lines}
        if len(counts) == 1:
            n = counts.pop()
            if n > 0 and n + 1 > best_cols:
                best, best_cols = cand, n + 1
    return best


def parse_xml_lines(
    lines: DataFrame, schema: T.StructType, options: dict | None = None
) -> DataFrame:
    """XML record-per-line mode (XmlFileReader via JacksonFileReader:35-43,
    record_per_line — the reference's DEFAULT for XML): each line is one
    XML document. Python (xmltodict, Arrow-batched) only converts XML text
    → JSON text; typing stays JVM-side ``from_json`` — same split as the
    whole-file path. xmltodict yields every scalar as a string, so parse
    all-strings then cast to the declared schema."""
    opts = options or {}
    record_path = opts.get("record_path")

    def to_json(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import xmltodict

        for pdf in batches:
            vals = []
            for v in pdf["value"]:
                try:
                    doc = xmltodict.parse(v)
                    if record_path:
                        for k in record_path.split("."):
                            doc = doc[k]
                    elif isinstance(doc, dict) and len(doc) == 1:
                        # drop the root element wrapper (Jackson's XmlMapper
                        # readTree sees the fields directly, same as the
                        # whole-file path's record_path unwrapping)
                        doc = next(iter(doc.values()))
                    vals.append(json.dumps(doc, default=str))
                except Exception:
                    vals.append(None)  # malformed line → quarantined null rec
            pdf = pdf.copy()
            pdf["value"] = vals
            yield pdf

    return _parse_xml_json(lines.mapInPandas(to_json, LINE_SCHEMA), schema)


def _parse_xml_json(jsonl: DataFrame, schema: T.StructType) -> DataFrame:
    """Type xmltodict's JSON records: xmltodict emits every scalar as a
    string (the reference's Jackson XML reader sees text too and infers —
    JacksonFileReaderTest), so parse all fields as strings, then cast to
    the declared schema."""
    parsed = jsonl.withColumn("_rec", F.from_json("value", _stringify_schema(schema)))
    casts = [
        F.col(f"_rec.{f.name}").cast(f.dataType).alias(f.name) for f in schema.fields
    ]
    return parsed.select("_src_file", "_src_offset", "_src_end", "_line_no", *casts)


# ------------------------------------------------------- whole-file readers


def _read_whole(w: WorkItem) -> bytes | None:
    """A whole file's bytes up to its listing snapshot, decompressed by
    extension; None when it vanished between listing and read
    (rotation/cleanup: it will not appear in the next listing). Other I/O
    errors still fail the batch: committing the full snapshot length over
    a transient read failure would be silent loss."""
    limit = None if _compression_of(w.path) else w.snap_length
    try:
        return _read_decompressed(w.path, limit_compressed=limit)
    except FileNotFoundError:
        log.warning("whole-file source vanished, skipping: %s", w.path)
        return None


def _records_to_json_lines(content: bytes, fmt: str, options: dict) -> list[str]:
    """Vectorized-Python normalization: YAML/XML/JSON bytes → JSON strings,
    one per record. Typing happens later JVM-side via from_json."""
    if fmt == "yaml":
        import yaml

        doc = yaml.safe_load(content.decode(options.get("encoding", "utf-8")))
        docs = doc if isinstance(doc, list) and options.get("explode_list") else [doc]
        return [json.dumps(d, default=str) for d in docs if d is not None]
    if fmt == "xml":
        import xmltodict

        parsed = xmltodict.parse(content)
        if options.get("record_path"):
            for k in options["record_path"].split("."):
                parsed = parsed[k]
        docs = parsed if isinstance(parsed, list) else [parsed]
        return [json.dumps(d, default=str) for d in docs]
    if fmt == "json":
        doc = json.loads(content.decode(options.get("encoding", "utf-8")))
        docs = doc if isinstance(doc, list) else [doc]
        return [json.dumps(d, default=str) for d in docs]
    raise ValueError(f"not a whole-file record format: {fmt}")


def read_whole_file_records(
    spark: SparkSession,
    items: list[WorkItem],
    fmt: str,
    schema: T.StructType | None = None,
    options: dict | None = None,
) -> DataFrame:
    """One record per document, in one Python stage: YamlFileReader /
    XmlFileReader / whole-file JsonFileReader semantics (``fmt`` yaml / xml
    / json, typed by ``schema``), and TextFileReader record_per_line=false
    (``fmt="text"``: the decoded file as one string column named
    ``options["field_name"]``, default ``value``; TextFileReader.java:54,
    87-92). YamlFileReader.java:34-36 forces one doc per file.

    Each task reads its files and converts them to JSON text per record,
    so only record text crosses the Arrow boundary; the typed parse is
    JVM-side ``from_json`` with the pinned schema."""
    if fmt not in ("yaml", "xml", "json", "text"):
        raise ValueError(f"unknown whole-file format: {fmt}")
    opts = options or {}

    def scan_file(w: WorkItem) -> Iterator[pd.DataFrame]:
        content = _read_whole(w)
        if content is None:
            return
        if fmt == "text":
            # outside the poison-file policy: a wrong ``encoding`` is a
            # configuration error, so it fails the batch (retried)
            recs = [content.decode(opts.get("encoding", "utf-8"))]
        else:
            try:
                recs = _records_to_json_lines(content, fmt, opts)
            except Exception as e:  # malformed yaml/xml/json document
                # poison-file policy: warn + zero records. Unlike line
                # formats (retried from the committed offset), a corrupt
                # whole-file document can never become parseable, so it
                # is marked consumed rather than blocking the pipeline
                # forever (divergence from the reference's infinite
                # re-offer, documented).
                log.warning("unparseable %s file %s: %s", fmt, w.path, e)
                return
        if recs:
            yield pd.DataFrame(
                {"_src_file": w.path, "_src_offset": 0, "_src_end": len(content),
                 "_line_no": range(len(recs)), "value": recs}
            )

    jsonl = _scan_bins(spark, items, [w.snap_length for w in items], scan_file, LINE_SCHEMA)
    if fmt == "text":
        return parse_text(jsonl, opts.get("field_name", "value"))
    if fmt == "xml":
        return _parse_xml_json(jsonl, schema)
    return parse_jsonl(jsonl, schema)


def _stringify_schema(schema: T.DataType) -> T.DataType:
    if isinstance(schema, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _stringify_schema(f.dataType), True)
                for f in schema.fields
            ]
        )
    if isinstance(schema, T.ArrayType):
        return T.ArrayType(_stringify_schema(schema.elementType), True)
    return T.StringType()


# ---------------------------------------------------------- native columnar


_AVRO_AVAILABLE: bool | None = None  # probe once per process


def avro_available(spark: SparkSession) -> bool:
    """spark-avro is an *external* Spark module (not bundled with pyspark);
    this sandbox has no jar for it. The reader below works unchanged when
    the jar is on the cluster classpath (spark-submit --packages
    org.apache.spark:spark-avro_2.13:<ver>), matching the reference's
    AvroFileReader capability."""
    global _AVRO_AVAILABLE
    if _AVRO_AVAILABLE is not None:
        return _AVRO_AVAILABLE
    try:
        spark.read.format("avro").schema("_probe int").load(
            "/nonexistent-avro-probe-path"
        ).schema
        _AVRO_AVAILABLE = True
    except Exception as e:
        msg = str(e)
        _AVRO_AVAILABLE = not (
            "Failed to find data source" in msg or "FAILED_REGISTER" in msg
        )
    return _AVRO_AVAILABLE


def read_avro_python(
    spark: SparkSession,
    items: list[WorkItem],
    schema: T.StructType | None = None,
    columns: list[str] | None = None,
    reader_schema: dict | str | None = None,
) -> DataFrame:
    """Avro container scan WITHOUT the spark-avro jar: Arrow-batched Python
    decode of the container blocks (sources/avro_io.py — the public spec),
    then JVM-side `from_json` typing. The deployed fast path is still the
    native `avro` datasource (read_columnar tries it first); this fallback
    makes the Avro capability real — executable and tested — everywhere.
    AvroFileReader parity incl. the reader-schema projection: pass
    ``schema``/``columns`` to project/null-fill against the writer schema,
    or ``reader_schema`` (an Avro schema dict / JSON string) for FULL
    schema-resolution semantics — reader fields absent from a file's
    writer schema take their declared Avro DEFAULT, per file, exactly like
    GenericDatumReader(writer, reader) (AvroFileReader.java:24,43-47).

    Failure policy: a CORRUPT container (bad magic, torn block, codec
    error) is a data problem — skipped with a warning so one poison file
    cannot stall the pipeline. A SCHEMA-RESOLUTION error (illegal
    narrowing, missing default) is a configuration problem — it fails
    the read loudly, like GenericDatumReader, so a wrong reader schema
    is fixed instead of silently dropping files. Without ``schema`` or
    ``reader_schema`` the schema is inferred from the first file's
    header, and every other file resolves against it (Avro's promotions,
    e.g. int → long, read; a missing field null-fills); a file that does
    not resolve — a shared field narrowed or retyped — is skipped with a
    warning, like a corrupt container."""
    from kafka_connect_fs_spark.sources.avro_io import avro_to_spark_schema, parse_header

    if isinstance(reader_schema, str):
        reader_schema = json.loads(reader_schema)
    # a caller-supplied Spark schema is a CAST spec (from_json coerces e.g.
    # a string ts column into TimestampType); a schema derived from the
    # avro writer/reader schema types the decoded values exactly, so those
    # reads can skip the JSON round-trip (typed Arrow fast path below)
    declared_cast = schema is not None
    inferred = None  # the first file's writer schema, when the read is typed by it
    if reader_schema is not None and schema is None:
        schema = avro_to_spark_schema(reader_schema)
    elif schema is None:
        if not items:  # nothing to infer a schema from
            return spark.createDataFrame([], "_src_file string, _src_offset long")
        # header-only read for inference: decoding the whole first
        # container driver-side would stall (or OOM) on a multi-GB file
        with _open_raw(items[0].path) as f:
            inferred = parse_header(f.read(1 << 20))
        schema = avro_to_spark_schema(inferred)

    # ONE python stage: each task opens its own files and decodes them, so
    # the container bytes never cross the Arrow boundary
    sizes = [w.snap_length for w in items]
    if not declared_cast:
        # typed Arrow fast path: the schema was derived from the avro
        # writer/reader schema, so the decoded Python values already have
        # the declared types — emit them straight through the Arrow
        # boundary (one boundary crossing, no JSON re-parse). Each record
        # already has the declared shape: it was written by the first
        # file's schema or resolved against it (or against the reader
        # schema), which null-fills missing fields and drops extra ones.
        out_schema = T.StructType(
            [
                T.StructField("_src_file", T.StringType(), False),
                T.StructField("_src_offset", T.LongType(), False),
                *[T.StructField(f.name, f.dataType, True) for f in schema.fields],
            ]
        )

        def to_rows(w: WorkItem) -> Iterator[pd.DataFrame]:
            records = _avro_file_records(w, reader_schema, inferred)
            if records:
                data = {
                    "_src_file": [w.path] * len(records),
                    "_src_offset": [0] * len(records),
                }
                for f in schema.fields:
                    data[f.name] = [r[f.name] for r in records]
                yield pd.DataFrame(data)

        out = _scan_bins(spark, items, sizes, to_rows, out_schema)
        return out.select("_src_file", "_src_offset", *columns) if columns else out

    # caller-declared Spark schema: from_json is the CAST spec (e.g. a
    # string ts column lands as TimestampType) — keep the JSON path so its
    # lenient coercion semantics stay exactly as documented
    def jsonable(v):
        if isinstance(v, bytes):
            return base64.b64encode(v).decode("ascii")  # from_json binary
        if isinstance(v, decimal.Decimal):
            return str(v)  # quoted exact literal → DecimalType
        if isinstance(v, datetime.datetime):
            return v.isoformat(sep=" ")  # → TimestampType (micros kept)
        if isinstance(v, datetime.date):
            return v.isoformat()  # → DateType
        if isinstance(v, dict):
            return {k: jsonable(x) for k, x in v.items()}
        if isinstance(v, list):
            return [jsonable(x) for x in v]
        return v

    def to_json(w: WorkItem) -> Iterator[pd.DataFrame]:
        records = _avro_file_records(w, reader_schema, inferred)
        if records:
            yield pd.DataFrame(
                {"_src_file": w.path, "_src_offset": 0, "_src_end": w.snap_length,
                 "_line_no": range(len(records)),
                 "value": [json.dumps(jsonable(r)) for r in records]}
            )

    jsonl = _scan_bins(spark, items, sizes, to_json, LINE_SCHEMA)
    parsed = jsonl.withColumn("_rec", F.from_json("value", schema))
    out = parsed.select("_src_file", "_src_offset", "_rec.*")
    return out.select("_src_file", "_src_offset", *columns) if columns else out


def _avro_file_records(
    w: WorkItem, reader_schema: dict | None, inferred: dict | None
) -> list:
    """One Avro file's records, poison-tolerant: a vanished file, a CORRUPT
    container (bad magic, torn block, codec error) or — when the read is
    typed by the ``inferred`` writer schema of another file — a writer
    schema that does not resolve against it (a mixed-generation directory
    that narrows or retypes a shared field: Arrow cannot convert its
    values, and NULL-filling them would hide data) is skipped with a
    warning, so one file cannot stall the pipeline. A schema-RESOLUTION
    error against ``reader_schema`` still raises loudly (a wrong reader
    schema is a configuration problem)."""
    from kafka_connect_fs_spark.sources.avro_io import (
        parse_container,
        resolve_records,
        with_null_defaults,
    )

    content = _read_whole(w)
    if content is None:
        return []
    try:
        writer_schema, records = parse_container(content)
    except Exception as e:
        log.warning("skipping corrupt avro container %s: %s", w.path, e)
        return []
    if reader_schema is not None:
        # per-file resolution: defaults apply against THIS file's writer
        # schema (mixed-generation directories resolve file-by-file, like
        # the reference's reader)
        return resolve_records(records, writer_schema, reader_schema)
    if inferred is not None and writer_schema != inferred:
        try:
            return resolve_records(records, writer_schema, with_null_defaults(inferred))
        except ValueError as e:
            log.warning(
                "skipping avro file %s: it does not resolve against the schema "
                "inferred from the first file: %s", w.path, e,
            )
            return []
    return records


def read_columnar(
    spark: SparkSession,
    items: list[WorkItem],
    fmt: str,
    schema: T.StructType | None = None,
    columns: list[str] | None = None,
    options: dict | None = None,
) -> DataFrame:
    """Parquet/Avro/ORC scan via native vectorized readers — rotate-based
    (whole files), like the reference's re-init+skip seek. ``columns``
    reproduces the Parquet ``projection`` (ParquetFileReader.java:47-49) —
    Catalyst pushes the pruning into the scan. Avro falls back to the
    pure-Python container reader when the spark-avro jar is absent.
    """
    if fmt == "avro" and not avro_available(spark):
        return read_avro_python(
            spark,
            items,
            schema=schema,
            columns=columns,
            reader_schema=(options or {}).get("avroSchema"),
        )
    paths = [w.path for w in items]
    if not paths:
        base = schema or T.StructType([])
        return spark.createDataFrame([], _with_lineage(base))
    reader = spark.read
    if options:
        reader = reader.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.format(fmt).load(paths)
    if columns:
        df = df.select(*columns)
    return df.withColumn("_src_file", F.input_file_name()).withColumn(
        "_src_offset", F.lit(0).cast("long")
    )


def _with_lineage(schema: T.StructType) -> T.StructType:
    fields = list(schema.fields)
    fields.append(T.StructField("_src_file", T.StringType(), False))
    fields.append(T.StructField("_src_offset", T.LongType(), False))
    return T.StructType(fields)


def read_binary(spark: SparkSession, items: list[WorkItem]) -> DataFrame:
    """BinaryFileReader semantics (BinaryFileReader.java:77-87): whole file
    as one record with file metadata + content — native binaryFile source."""
    paths = [w.path for w in items]
    if not paths:
        return spark.createDataFrame(
            [],
            "path string, modificationTime timestamp, length long, content binary, _src_file string, _src_offset long",
        )
    df = spark.read.format("binaryFile").load(paths)
    return df.withColumn("_src_file", F.col("path")).withColumn(
        "_src_offset", F.lit(0).cast("long")
    )


# Writable → Spark type, the reference's getSchema mapping
# (SequenceFileReader.java:59-78: Byte/Short/Int/Long/Float/Double/Bytes/
# Boolean/Text Writables → INT8..STRING). PySpark's sequenceFile already
# deserializes Writables to the matching Python types; this maps the PYTHON
# type observed in the data back to the typed column.
_PY_TO_SPARK = {
    bool: "boolean",  # before int: bool is an int subclass
    int: "long",
    float: "double",
    bytes: "binary",
    bytearray: "binary",
    str: "string",
}


def _py_spark_type(value) -> str:
    for py, st in _PY_TO_SPARK.items():
        if isinstance(value, py):
            return st
    return "string"


# Writable class name -> Spark type, matching what pyspark's sequenceFile
# deserialization yields Python-side (int Writables all become Python int
# -> long; Float/DoubleWritable become Python float -> double), so the
# header-sniffed schema equals the old probe-job-inferred one.
_WRITABLE_TO_SPARK = {
    "org.apache.hadoop.io.Text": "string",
    "org.apache.hadoop.io.IntWritable": "long",
    "org.apache.hadoop.io.LongWritable": "long",
    "org.apache.hadoop.io.VIntWritable": "long",
    "org.apache.hadoop.io.VLongWritable": "long",
    "org.apache.hadoop.io.ShortWritable": "long",
    "org.apache.hadoop.io.ByteWritable": "long",
    "org.apache.hadoop.io.FloatWritable": "double",
    "org.apache.hadoop.io.DoubleWritable": "double",
    "org.apache.hadoop.io.BooleanWritable": "boolean",
    "org.apache.hadoop.io.BytesWritable": "binary",
}


def _read_vint(buf: bytes, pos: int) -> tuple[int, int]:
    """Hadoop WritableUtils zero-compressed VInt: (value, next_pos).
    Public format: first byte in [-112, 127] IS the value; else it
    encodes sign + the count of following big-endian bytes."""
    first = buf[pos]
    b = first - 256 if first > 127 else first
    if b >= -112:
        return b, pos + 1
    length = (-111 - b) if b >= -120 else (-119 - b)
    v = 0
    for i in range(length - 1):
        v = (v << 8) | buf[pos + 1 + i]
    neg = b < -120 or (-112 <= b < 0)
    return (v ^ -1) if neg else v, pos + length


def _sniff_sequence_header(path: str) -> tuple[str, str] | None:
    """Driver-side SequenceFile header sniff — the public on-disk format
    is magic 'SEQ' + version byte + two Text.writeString class names
    (VInt length + UTF-8). Returns (key_class, value_class) or None for
    non-SequenceFile/empty/unsniffable bytes. Replaces the old
    sc.sequenceFile(path).first() probe, which launched one Spark JOB per
    file just to learn two type names."""
    try:
        with _open_raw(path) as f:
            head = f.read(4096)
    except OSError:
        return None
    if len(head) < 4 or head[:3] != b"SEQ":
        return None
    try:
        n, pos = _read_vint(head, 4)
        key_cls = head[pos : pos + n].decode("utf-8")
        pos += n
        n, pos = _read_vint(head, pos)
        val_cls = head[pos : pos + n].decode("utf-8")
        return key_cls, val_cls
    except (IndexError, UnicodeDecodeError):
        return None


def read_sequence_file(
    spark: SparkSession,
    items: list[WorkItem],
    key_field: str = "key",
    value_field: str = "value",
    key_type: str | None = None,
    value_type: str | None = None,
) -> DataFrame:
    """Hadoop SequenceFile key/value scan (SequenceFileReader.java:17-173).

    The one RDD-backed source in this engine: Spark has no DataFrame
    SequenceFile reader, and the format is legacy — kept for parity.
    Writables come out TYPED, like the reference's toSchema mapping
    (SequenceFileReader.java:59-78): pass ``key_type``/``value_type``
    Spark type strings, or leave None to infer from the file header's
    Writable class names — a driver-side byte sniff, zero Spark jobs (the
    reference inspects the Writable instance at read time; exotic
    Writable classes fall back to a one-record probe job).
    Customizable field names mirror file_reader.sequence.field_name.*."""
    if key_type is None or value_type is None:
        for w in items:
            sniffed = _sniff_sequence_header(w.path)
            if sniffed is None:
                continue
            kt, vt = (_WRITABLE_TO_SPARK.get(c) for c in sniffed)
            if kt is None or vt is None:
                break  # unknown Writable: deserialize one record instead
            key_type = key_type or kt
            value_type = value_type or vt
            break
    if key_type is None or value_type is None:
        # Only reachable for Writable classes OUTSIDE _WRITABLE_TO_SPARK —
        # compound or user-defined Writables (MapWritable, ArrayWritable,
        # custom implementations) whose record wire format is defined by
        # their own readFields() and therefore CANNOT be decoded
        # driver-side from bytes; the JVM deserializer is the only
        # decoder, so one probe job per READ CALL (not per file) is the
        # floor here. Every standard primitive Writable resolves via the
        # header sniff above with zero jobs
        # (test_sequence_file_inference_runs_zero_jobs).
        probe_key, probe_val = None, None
        for w in items:
            try:
                probe_key, probe_val = spark.sparkContext.sequenceFile(w.path).first()
                break
            except ValueError:  # empty file: try the next
                continue
        key_type = key_type or _py_spark_type(probe_key)
        value_type = value_type or _py_spark_type(probe_val)
    ddl = (
        f"{key_field} {key_type}, {value_field} {value_type}, "
        "_src_file string, _src_offset long"
    )
    paths = [w.path for w in items]
    if not paths:
        return spark.createDataFrame([], ddl)
    sc = spark.sparkContext
    parts = []
    for p in paths:
        rdd = sc.sequenceFile(p).map(lambda kv, _p=p: (kv[0], kv[1], _p, 0))
        parts.append(rdd)
    # one balanced UnionRDD — a pairwise .union() chain builds O(files)-deep
    # lineage and blows up driver planning at thousands of files
    union = sc.union(parts) if len(parts) > 1 else parts[0]
    return spark.createDataFrame(union, ddl)


# ------------------------------------------------------------- dispatch


EXTENSION_FORMATS = {
    # AgnosticFileReader.java:52-87 dispatch-by-extension, fallback text
    "parquet": "parquet",
    "avro": "avro",
    "orc": "orc",
    "json": "jsonl",
    "jsonl": "jsonl",
    "ndjson": "jsonl",
    "csv": "csv",
    "tsv": "tsv",
    "txt": "text",
    "log": "text",
    "xml": "xml",
    "yaml": "yaml",
    "yml": "yaml",
    "dat": "fixedwidth",
    # the reference's AgnosticFileReader defaults `dat` to its Cobol reader
    # (AgnosticFileReader.java:99); this engine keeps `dat` on fixed-width
    # text (the more common case for ASCII .dat) and maps `dt` — the
    # extension of the reference's own mainframe fixtures — to cobol.
    # Either is overridable per-source via `format_for` overrides.
    "dt": "cobol",
    "bin": "binary",
}


# Custom-parser registry — the reference's plugin surface re-expressed:
# kafka-connect-fs loads FileReader classes by reflection from the
# `file_reader.class` config (util/ReflectionUtils.java:18-38, contract
# file/reader/FileReader.java:10-17). Here a plugin is a callable
#   (spark, items: list[WorkItem], options: dict) -> DataFrame
# registered under a format name; the engine dispatches to it like any
# built-in. Parsers should be vectorized (Arrow-batched Python / built-in
# functions).
CUSTOM_READERS: dict[str, "Callable"] = {}

from typing import Callable  # noqa: E402


def register_reader(fmt: str, reader: Callable) -> None:
    CUSTOM_READERS[fmt] = reader


def format_for(path: str, overrides: dict[str, str] | None = None) -> str:
    name = os.path.basename(path)
    for comp_ext in (".gz", ".bz2"):
        if name.endswith(comp_ext):
            name = name[: -len(comp_ext)]
    ext = name.rsplit(".", 1)[-1].lower() if "." in name else ""
    table = dict(EXTENSION_FORMATS)
    if overrides:
        table.update(overrides)
    return table.get(ext, "text")  # fallback = text, like AgnosticFileReader
