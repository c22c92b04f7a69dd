"""CobolFileReader: distributed mainframe-file ingestion on Spark.

Parity target: the reference's Cobrix-backed CobolFileReader
(CobolFileReader.java:100-176 — copybook from content or path, EBCDIC or
ASCII data, fixed-length or RDW record sequences, keep_original /
collapse_root schema policies, string trimming, raw debug fields) with
the copybook/decoding rules implemented in ``copybook.py``.

Spark-first design, not a port of the reference's record-at-a-time
iterator: file byte-ranges are planned on the driver (fixed-length files
split at record boundaries like a block-aligned InputFormat, so one
100 GB dump fans out across the cluster; RDW files parallelize per file
since the framing is sequential), packed into host-sized Python tasks
(``readers._scan_bins``) that decode them numpy-vectorized into FLAT
Arrow columns, and the nested COBOL group structure (structs + OCCURS
arrays) is reassembled JVM-side with ``F.struct``/``F.array`` — so the
Python boundary moves plain typed columns, never Python objects per
record.
"""

from __future__ import annotations

import logging
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .copybook import (
    CopybookError,
    Field,
    Leaf,
    decode_records,
    decode_records_odo,
    ebcdic_to_ascii_table,
    find_odos,
    flatten,
    parse_copybook,
    spark_type_for,
)
from .readers import WorkItem, _open_raw, _scan_bins, register_reader

log = logging.getLogger("kafka_connect_fs_spark")

__all__ = ["read_cobol", "CobolOptions"]

_SPARK_T = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
}

_CODE_PAGES = {"common": "cp037", "common_extended": "cp037", "cp037": "cp037",
               "cp500": "cp500", "cp875": "cp875", "cp1140": "cp1140"}


class CobolOptions:
    """Normalized reader options (reference config keys sans the
    ``file_reader.cobol.`` prefix, CobolFileReader.java:47-92)."""

    def __init__(self, options: dict | None):
        o = options or {}
        self.copybook_content = o.get("copybook_content")
        self.copybook_path = o.get("copybook_path")
        self.is_ebcdic = _bool(o.get("is_ebcdic", True))
        self.code_page = _CODE_PAGES.get(
            str(o.get("ebcdic_code_page", "common")).lower(),
            str(o.get("ebcdic_code_page", "cp037")),
        )
        self.is_record_sequence = _bool(o.get("is_record_sequence", False))
        self.is_rdw_big_endian = _bool(o.get("is_rdw_big_endian", False))
        self.rdw_adjustment = int(o.get("rdw_adjustment", 0))
        self.record_length = o.get("record_length")
        self.schema_policy = str(o.get("schema_policy", "keep_original"))
        self.trim = str(o.get("string_trimming_policy", "both"))
        self.float_format = str(o.get("floating_point_format", "ibm"))
        self.debug = str(o.get("debug_fields_policy", "none")) == "raw"
        self.split_size_mb = float(o.get("input_split_size_mb", 64))
        # ODO counter outside [min, max] = stream desync (corruption or a
        # wrong copybook). "warn": stop framing the split there, emit the
        # pre-desync records, warn on executor stderr (pair-programming /
        # ad-hoc reads). "error": raise, failing the read loudly — under
        # the ingest engine this fails the batch so the operator SEES the
        # stuck file instead of the engine silently committing the full
        # snapshot length and skipping the unread remainder forever.
        self.on_desync = str(o.get("on_desync", "warn"))
        if self.on_desync not in ("warn", "error"):
            raise ValueError(
                f"on_desync must be 'warn' or 'error', got {self.on_desync!r}"
            )


def _bool(v) -> bool:
    if isinstance(v, str):
        return v.lower() == "true"
    return bool(v)


def _load_copybook(opts: CobolOptions) -> str:
    if opts.copybook_path:
        try:
            with _open_raw(opts.copybook_path) as f:
                return f.read().decode("utf-8")
        except (OSError, FileNotFoundError) as e:
            raise CopybookError(f"Cannot read Copybook file: {opts.copybook_path}") from e
    if opts.copybook_content and opts.copybook_content.strip():
        return opts.copybook_content
    raise CopybookError("Copybook is not specified.")


def read_cobol(
    spark: SparkSession, items: list[WorkItem], options: dict | None = None
) -> DataFrame:
    """Read mainframe files described by a COBOL copybook into a typed,
    nested DataFrame with ``_src_file``/``_src_offset`` lineage."""
    opts = CobolOptions(options)
    root = parse_copybook(_load_copybook(opts))
    odos = find_odos(root)  # validates the supported ODO envelope
    lrecl = int(opts.record_length) if opts.record_length else max(
        c.offset + c.extent for c in root.children
    )
    leaves = flatten(root)
    # OCCURS DEPENDING ON: records are variable-length (each compacts to
    # its own count), so the fixed-lrecl split planner cannot apply — ODO
    # files route through the sequential per-file path exactly like RDW
    # framing. An EXPLICIT record_length instead declares a fixed padded
    # layout (array at max extent, static offsets): normal split planning,
    # with beyond-count occurrences trimmed during reassembly.
    odo_variable = bool(odos) and not opts.record_length and not opts.is_record_sequence

    flat_fields = []
    for leaf in leaves:
        flat_fields.append(T.StructField(leaf.flat, _SPARK_T[spark_type_for(leaf.f)]))
        if opts.debug:
            flat_fields.append(T.StructField(leaf.flat + "__debug", T.StringType()))
    flat_schema = T.StructType(
        flat_fields
        + [
            T.StructField("_src_file", T.StringType(), False),
            T.StructField("_src_offset", T.LongType(), False),
        ]
    )

    tasks = _plan_tasks(items, lrecl, opts, sequential=opts.is_record_sequence or odo_variable)

    # bind plain values (not self) into the executor closure
    ebcdic, code_page, trim = opts.is_ebcdic, opts.code_page, opts.trim
    float_format, debug = opts.float_format, opts.debug
    rdw, rdw_be, rdw_adj = opts.is_record_sequence, opts.is_rdw_big_endian, opts.rdw_adjustment
    col_order = [f.name for f in flat_schema.fields]
    # ODO: variable layouts decode per-count (compacted offsets); an
    # explicit record_length keeps the static padded layout instead
    odo_compact = bool(odos) and not opts.record_length
    odo_counter_leaves = [
        next(l for l in leaves if l.f is counter) for _, counter in odos
    ]
    odo_base_size = max(c.offset + c.extent for c in root.children)
    e2a = ebcdic_to_ascii_table(code_page)
    odo_meta = (
        [
            {
                "reader": _counter_reader(cleaf, ebcdic, e2a),
                "counter_end": cleaf.offset + cleaf.f.size,
                "item_size": odo.size,
                "max_occurs": odo.occurs,
                "min_occurs": odo.occurs_min,
                # earlier arrays laid out before this counter shift it
                "affect": [i for i in range(j) if odos[i][0].offset < cleaf.offset],
            }
            for j, ((odo, _), cleaf) in enumerate(zip(odos, odo_counter_leaves))
        ]
        if odo_variable
        else []
    )

    def decode(task: tuple) -> Iterator[pd.DataFrame]:
        path, start, end, emit_from = task
        with _open_raw(path) as f:
            f.seek(start)
            raw = f.read(end - start)
        if rdw:
            recs, offsets = _frame_rdw(
                raw, lrecl, rdw_be, rdw_adj, base=start, emit_from=emit_from,
            )
        elif odo_variable:
            recs, offsets = _frame_odo(
                raw, lrecl, odo_meta, odo_base_size, base=start,
                emit_from=emit_from, src=path, on_desync=opts.on_desync,
            )
        else:
            n = len(raw) // lrecl
            recs = raw[: n * lrecl]
            offsets = [start + i * lrecl for i in range(n)]
        if not offsets:
            return
        m = np.frombuffer(recs, dtype=np.uint8).reshape(len(offsets), lrecl)
        if odo_compact:
            out = decode_records_odo(
                m, root, ebcdic=ebcdic, trim=trim,
                floating_point_format=float_format, debug=debug,
                e2a=e2a,
            )
        else:
            out = decode_records(
                m, leaves, ebcdic=ebcdic, trim=trim,
                floating_point_format=float_format, debug=debug,
                e2a=e2a,
            )
        out["_src_file"] = path
        out["_src_offset"] = pd.Series(offsets, dtype="int64")
        yield out[col_order]

    # packed by byte length with _scan_bins' default split size:
    # input_split_size_mb stays the planning (and retry) granularity, while
    # small runs share a task instead of each paying a Python task's cost
    flat_df = _scan_bins(spark, tasks, [t[2] - t[1] for t in tasks], decode, flat_schema)
    return _assemble(flat_df, root, opts)


def _frame_rdw(
    raw: bytes,
    lrecl: int,
    big_endian: bool,
    adjustment: int,
    base: int,
    emit_from: int = 0,
) -> tuple[bytes, list[int]]:
    """Split an RDW-framed byte run (4-byte record descriptor word per
    record; length is the 16-bit big-endian word at bytes 0-1 or the
    little-endian word at bytes 2-3 — the layout observed in the
    reference's own Cobrix fixtures) into fixed lrecl records, padding or
    truncating each payload to the copybook length.

    ``emit_from`` supports append resume: framing must start at byte 0
    (RDW is sequential), but only records EXTENDING PAST the previously
    committed offset are emitted. A record fully inside [0, emit_from)
    completed within the prior snapshot and was emitted then; a record
    straddling emit_from was torn in that snapshot (held back — torn
    trailing records claim nothing) and is recovered now. No loss, no
    duplicates."""
    recs = bytearray()
    offsets: list[int] = []
    pos = 0
    while pos + 4 <= len(raw):
        if big_endian:
            ln = int.from_bytes(raw[pos : pos + 2], "big")
        else:
            ln = int.from_bytes(raw[pos + 2 : pos + 4], "little")
        ln += adjustment
        if ln <= 0:
            break
        payload = raw[pos + 4 : pos + 4 + ln]
        if len(payload) < ln:
            break  # torn trailing record: claim nothing past it
        if base + pos + 4 + ln > emit_from:
            recs += payload[:lrecl].ljust(lrecl, b"\x00")
            offsets.append(base + pos)
        pos += 4 + ln
    return bytes(recs), offsets


def _counter_reader(counter_leaf: Leaf, ebcdic: bool, e2a: np.ndarray):
    """Per-record ODO counter extractor for framing: a direct byte parse
    of one small integer at a fixed offset (display digits, COMP binary,
    or COMP-3 packed) — framing is inherently sequential, so this runs
    once per record like the RDW length read."""
    f = counter_leaf.f
    off, end = counter_leaf.offset, counter_leaf.offset + f.size
    if f.usage == "comp":
        # PIC 9(n) counters are unsigned; only a signed picture reads as
        # two's-complement (signed=True on an unsigned counter would flip
        # large counts negative and desync framing)
        signed = bool(f.pic and f.pic.signed)

        def read(raw: bytes, pos: int, shift: int = 0) -> int:
            return int.from_bytes(
                raw[pos + off - shift : pos + end - shift], "big", signed=signed
            )
    elif f.usage == "comp3":
        def read(raw: bytes, pos: int, shift: int = 0) -> int:
            b = raw[pos + off - shift : pos + end - shift]
            if not b:
                return 0
            nibbles: list[int] = []
            for x in b:
                nibbles.append(x >> 4)
                nibbles.append(x & 0xF)
            sign = nibbles[-1]  # final nibble is C/D/F, never a digit
            v = 0
            for d in nibbles[:-1]:
                if d < 10:
                    v = v * 10 + d
            return -v if sign == 0xD else v
    else:  # DISPLAY digits (counters are conventionally unsigned zoned)
        def read(raw: bytes, pos: int, shift: int = 0) -> int:
            b = raw[pos + off - shift : pos + end - shift]
            if ebcdic:
                b = bytes(int(v) for v in e2a[np.frombuffer(b, np.uint8)])
            s = "".join(ch for ch in b.decode("ascii", "replace") if ch.isdigit())
            return int(s) if s else 0
    return read


def _frame_odo(
    raw: bytes,
    lrecl: int,
    odo_meta: list[dict],
    base_size: int,
    base: int,
    emit_from: int = 0,
    src: str = "",
    on_desync: str = "warn",
) -> tuple[bytes, list[int]]:
    """Frame back-to-back variable-length OCCURS DEPENDING ON records:
    each record's on-disk length is ``base_size - Σ_j (max_j - count_j)
    * item_size_j`` over every ODO array, with counts read left-to-right
    (a counter laid out after an earlier variable array sits at a
    shifted position, so each read applies the compaction of the arrays
    before it). Like RDW, framing is sequential (record N's start
    depends on every prior length), so ODO files parallelize per file,
    and ``emit_from`` gives the same append-resume semantics as
    _frame_rdw. Records are padded to the static (max-occurrence) lrecl
    for the rectangular decode matrix; the pad bytes are never read
    (the per-count layouts stop at the record's true length). A torn
    trailing record claims nothing; a counter outside its declared
    [occurs_min, occurs] range means the stream is desynced (corruption
    or wrong copybook) — every later record start would be wrong, so
    framing stops there with a warning instead of clamping ahead."""
    recs = bytearray()
    offsets: list[int] = []
    pos = 0
    while pos < len(raw):
        ln = base_size
        comps: list[int] = []  # per-array compaction, layout order
        torn = bad = False
        for m in odo_meta:
            shift = sum(comps[i] for i in m["affect"])
            if pos + m["counter_end"] - shift > len(raw):
                torn = True  # fragment too short to contain the counter
                break
            c = int(m["reader"](raw, pos, shift))
            if c < m["min_occurs"] or c > m["max_occurs"]:
                bad = True
                msg = (
                    f"kcfs: ODO counter {c} outside "
                    f"[{m['min_occurs']}, {m['max_occurs']}] at "
                    f"{src}:{base + pos} — corrupt data or wrong copybook"
                )
                if on_desync == "error":
                    # loud failure: the task (and the engine batch) fails,
                    # so the desynced file surfaces to the operator instead
                    # of the remainder being silently skipped
                    raise ValueError(msg)
                log.warning("%s; stopping framing for this split", msg)
                break
            comp = (m["max_occurs"] - c) * m["item_size"]
            comps.append(comp)
            ln -= comp
        if torn or bad:
            break
        if ln <= 0 or pos + ln > len(raw):
            break
        if base + pos + ln > emit_from:
            recs += raw[pos : pos + ln].ljust(lrecl, b"\x00")
            offsets.append(base + pos)
        pos += ln
    return bytes(recs), offsets


def _plan_tasks(
    items: list[WorkItem], lrecl: int, opts: CobolOptions, sequential: bool = False
) -> list[tuple[str, int, int]]:
    tasks = []
    chunk = max(int(opts.split_size_mb * 1024 * 1024) // lrecl, 1) * lrecl
    for w in items:
        if w.snap_length <= 0:
            continue
        if sequential:
            # RDW/ODO framing is sequential: always scan from byte 0, but
            # emit only records extending past the committed offset (see
            # _frame_rdw/_frame_odo emit_from) so appends don't re-emit
            tasks.append((w.path, 0, w.snap_length, w.start_offset))
            continue
        # Resume on a record boundary, rounding DOWN: the engine commits the
        # full snapshot length for whole-file formats, so after an append
        # that tore a record the committed offset can sit mid-record; the
        # torn record was never emitted (end rounds down below), so
        # re-reading from its start loses nothing and duplicates nothing.
        start = (w.start_offset // lrecl) * lrecl
        end = (w.snap_length // lrecl) * lrecl  # ignore torn tail bytes
        pos = start
        while pos < end:
            tasks.append((w.path, pos, min(pos + chunk, end), 0))
            pos += chunk
    return tasks


def _assemble(flat_df: DataFrame, root: Field, opts: CobolOptions) -> DataFrame:
    """Rebuild the copybook's nested structure from flat decoded columns
    (keep_original: one struct column per 01-level record; collapse_root:
    the first record's children become top-level columns —
    CobolFileReader.java:extractSchema)."""

    def leaf_cols(f: Field, flat: str, out: list):
        out.append(F.col(flat).alias(f.name))
        if opts.debug:
            out.append(F.col(flat + "__debug").alias(f.name + "_debug"))

    all_leaves = flatten(root)
    # counter flat-column per ODO array, keyed by the array's identity
    counter_flat_by_odo = {
        id(odo): next(l.flat for l in all_leaves if l.f is counter)
        for odo, counter in find_odos(root)
    }

    def odo_trim(arr: "F.Column", f: Field) -> "F.Column":
        """Slice an OCCURS DEPENDING ON array down to its row's counter
        value (clamped to [0, max]) — occurrences beyond the count are
        layout artifacts, not data."""
        cnt = F.least(
            F.greatest(F.col(counter_flat_by_odo[id(f)]).cast("int"), F.lit(0)),
            F.lit(f.occurs),
        )
        return F.slice(arr, F.lit(1), cnt)

    def has_named_leaf(f: Field) -> bool:
        if f.is_group:
            return any(has_named_leaf(c) for c in f.children)
        return not f.is_filler

    def build(f: Field, prefix: str) -> list:
        """Columns for field f (1 normally, 2 with debug on leaves).
        FILLER leaves (and FILLER subtrees with no named leaves) are
        layout-only — flatten() never decoded them, so referencing their
        flat columns here would raise UNRESOLVED_COLUMN."""
        if not has_named_leaf(f):
            return []
        reps = range(f.occurs) if f.occurs else (None,)
        per_rep = []
        for idx in reps:
            token = f.name.lower() if idx is None else f"{f.name.lower()}_{idx}"
            path = f"{prefix}__{token}" if prefix else token
            if f.is_group:
                inner = []
                for c in f.children:
                    inner.extend(build(c, path))
                per_rep.append(F.struct(*inner))
            else:
                cols: list = []
                leaf_cols(f, path, cols)
                per_rep.append(cols)
        if f.occurs:
            if f.is_group:
                arr = F.array(*per_rep)
                if f.depending_on:
                    arr = odo_trim(arr, f)
                return [arr.alias(f.name)]
            arr = F.array(*[c[0] for c in per_rep])
            if f.depending_on:
                arr = odo_trim(arr, f)
            out = [arr.alias(f.name)]
            if opts.debug:
                # keep the per-occurrence raw-hex debug columns too
                dbg = F.array(*[c[1] for c in per_rep])
                if f.depending_on:
                    dbg = odo_trim(dbg, f)
                out.append(dbg.alias(f.name + "_debug"))
            return out
        if f.is_group:
            return [per_rep[0].alias(f.name)]
        return per_rep[0]

    lineage = [F.col("_src_file"), F.col("_src_offset")]
    if opts.schema_policy == "collapse_root":
        top = root.children[0]
        cols = []
        if top.is_group:
            for ch in top.children:
                cols.extend(build(ch, top.name.lower()))
        else:
            # elementary 01-level record: "collapsing" it means the field
            # itself becomes the (single) top-level column — iterating
            # children would silently drop all data
            cols.extend(build(top, ""))
        return flat_df.select(*cols, *lineage)
    cols = []
    for c in root.children:
        cols.extend(build(c, ""))
    return flat_df.select(*cols, *lineage)


register_reader("cobol", read_cobol)
