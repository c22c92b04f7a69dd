"""Minimal Avro Object Container File codec — the sandbox fallback path.

The reference's AvroFileReader (AvroFileReader.java:20-101) reads Avro
containers via the Java library. On a real cluster this engine uses
Spark's native `avro` datasource (spark-avro jar); THIS module exists
because neither that jar nor any Python avro package ships in the sandbox
— it implements the public Avro 1.x container spec (magic `Obj\\x01`,
metadata map with schema+codec, sync-marked blocks, zigzag-varint binary
encoding) directly, so the Avro path is executable and tested here, not
skip-gated. Scope: null/deflate codecs; primitives, record, enum, array,
map, union, fixed — the types the reference's own test fixtures use —
plus the spec's logical types decimal (bytes/fixed), date, and
timestamp-millis/micros, surfaced as Decimal/date/datetime and mapped to
Spark DecimalType/DateType/TimestampType.

The writer exists for tests (round-trips need files to read); production
data is written by other systems.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import io
import json
import os
import struct
import zlib

MAGIC = b"Obj\x01"


# ------------------------------------------------------------- primitives


def _read_long(buf: io.BytesIO) -> int:
    """Zigzag varint (Avro int/long share the encoding)."""
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _write_long(out: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            break


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _read_long(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


def _write_bytes(out: io.BytesIO, data: bytes) -> None:
    _write_long(out, len(data))
    out.write(data)


# ----------------------------------------------------------- datum codec


_EPOCH = _dt.datetime(1970, 1, 1)
_EPOCH_DATE = _dt.date(1970, 1, 1)


def _from_logical(schema: dict, raw):
    """Underlying-primitive value → logical Python value (Avro spec
    'Logical Types'; the reference gets this via Confluent AvroData,
    ref: file/reader/AvroFileReader.java:33-38)."""
    if raw is None:
        return None
    lt = schema["logicalType"]
    if lt == "decimal":
        unscaled = int.from_bytes(raw, "big", signed=True)
        return _decimal.Decimal(unscaled).scaleb(-int(schema.get("scale", 0)))
    if lt == "date":
        return _EPOCH_DATE + _dt.timedelta(days=raw)
    if lt in ("timestamp-millis", "local-timestamp-millis"):
        return _EPOCH + _dt.timedelta(milliseconds=raw)
    if lt in ("timestamp-micros", "local-timestamp-micros"):
        return _EPOCH + _dt.timedelta(microseconds=raw)
    return raw  # uuid (string), time-* (int/long): underlying representation


def _to_raw(schema: dict, value):
    """Logical Python value → underlying primitive (inverse of
    _from_logical); raw-typed inputs pass through so pre-converted data
    round-trips."""
    lt = schema["logicalType"]
    if lt == "decimal" and isinstance(value, _decimal.Decimal):
        scale = int(schema.get("scale", 0))
        unscaled = int(value.scaleb(scale).to_integral_value())
        if schema["type"] == "fixed":
            return unscaled.to_bytes(schema["size"], "big", signed=True)
        length = max(1, (unscaled.bit_length() + 8) // 8)  # +1 sign bit
        return unscaled.to_bytes(length, "big", signed=True)
    if lt == "date" and isinstance(value, _dt.date) and not isinstance(
        value, _dt.datetime
    ):
        return (value - _EPOCH_DATE).days
    if lt in ("timestamp-millis", "local-timestamp-millis") and isinstance(
        value, _dt.datetime
    ):
        return round((value - _EPOCH).total_seconds() * 1000)
    if lt in ("timestamp-micros", "local-timestamp-micros") and isinstance(
        value, _dt.datetime
    ):
        delta = value - _EPOCH
        return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
    return value


def _decode(buf: io.BytesIO, schema) -> object:
    if isinstance(schema, dict) and "logicalType" in schema:
        return _from_logical(schema, _decode_raw(buf, schema))
    return _decode_raw(buf, schema)


def _decode_raw(buf: io.BytesIO, schema) -> object:
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union: long index, then value
        idx = _read_long(buf)
        return _decode(buf, schema[idx])
    else:
        t = schema["type"]
    if t == "null":
        return None
    if t == "boolean":
        b = buf.read(1)
        if not b:
            raise EOFError("truncated boolean")  # never fabricate False at EOF
        return b == b"\x01"
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return _read_bytes(buf)
    if t == "string":
        return _read_bytes(buf).decode("utf-8")
    if t == "record":
        return {f["name"]: _decode(buf, f["type"]) for f in schema["fields"]}
    if t == "enum":
        return schema["symbols"][_read_long(buf)]
    if t == "fixed":
        data = buf.read(schema["size"])
        if len(data) != schema["size"]:
            raise EOFError("truncated fixed")  # short read must not pass as data
        return data
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block size follows (skippable form)
                _read_long(buf)
                n = -n
            out.extend(_decode(buf, schema["items"]) for _ in range(n))
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                _read_long(buf)
                n = -n
            for _ in range(n):
                # NB: key must be read BEFORE the value (subscript
                # assignment would evaluate the RHS first)
                key = _read_bytes(buf).decode("utf-8")
                out[key] = _decode(buf, schema["values"])
    raise ValueError(f"unsupported avro type: {t!r}")


_BRANCH_PY_TYPES = {
    "boolean": (bool,),
    "int": (int,),
    "long": (int,),
    "float": (float, int),
    "double": (float, int),
    "bytes": (bytes, bytearray),
    "fixed": (bytes, bytearray),
    "string": (str,),
    "record": (dict,),
    "map": (dict,),
    "array": (list, tuple),
    "enum": (str,),
}


_LOGICAL_PY_TYPES = {
    "decimal": _decimal.Decimal,
    "date": _dt.date,
    "timestamp-millis": _dt.datetime,
    "timestamp-micros": _dt.datetime,
    "local-timestamp-millis": _dt.datetime,
    "local-timestamp-micros": _dt.datetime,
}


def _branch_accepts(branch, value) -> bool:
    bt = branch if isinstance(branch, str) else branch["type"]
    if bt == "null":
        return value is None
    if isinstance(branch, dict) and "logicalType" in branch:
        lt = branch["logicalType"]
        pt = _LOGICAL_PY_TYPES.get(lt)
        # datetime subclasses date: a datetime must not match a date branch
        if pt is not None and isinstance(value, pt) and not (
            lt == "date" and isinstance(value, _dt.datetime)
        ):
            return True  # raw-typed values fall through to the primitive check
    pts = _BRANCH_PY_TYPES.get(bt)
    if pts is None:
        return True  # nested union etc. — let recursion decide
    # bool is an int subclass: don't let True match an int branch ahead of
    # a boolean branch (and vice versa)
    if isinstance(value, bool) and bt != "boolean":
        return False
    return isinstance(value, pts)


def _encode(out: io.BytesIO, schema, value) -> None:
    if isinstance(schema, list):
        # union: pick the branch whose Avro type MATCHES the value's Python
        # type — "first non-null" would mis-encode ["string","int"] given 3
        # (crash or corrupt), even though _decode handles such unions fine
        for i, branch in enumerate(schema):
            if _branch_accepts(branch, value):
                _write_long(out, i)
                _encode(out, branch, value)
                return
        raise ValueError(f"no union branch for {value!r}")
    if isinstance(schema, dict) and "logicalType" in schema and value is not None:
        value = _to_raw(schema, value)
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return
    if t == "boolean":
        out.write(b"\x01" if value else b"\x00")
    elif t in ("int", "long"):
        _write_long(out, int(value))
    elif t == "float":
        out.write(struct.pack("<f", value))
    elif t == "double":
        out.write(struct.pack("<d", value))
    elif t == "bytes":
        _write_bytes(out, bytes(value))
    elif t == "string":
        _write_bytes(out, value.encode("utf-8"))
    elif t == "record":
        for f in schema["fields"]:
            _encode(out, f["type"], value[f["name"]])
    elif t == "enum":
        _write_long(out, schema["symbols"].index(value))
    elif t == "fixed":
        out.write(bytes(value))
    elif t == "array":
        if value:
            _write_long(out, len(value))
            for v in value:
                _encode(out, schema["items"], v)
        _write_long(out, 0)
    elif t == "map":
        if value:
            _write_long(out, len(value))
            for k, v in value.items():
                _write_bytes(out, k.encode("utf-8"))
                _encode(out, schema["values"], v)
        _write_long(out, 0)
    else:
        raise ValueError(f"unsupported avro type: {t!r}")


# -------------------------------------------------------------- container


def parse_header(data: bytes) -> dict:
    """Writer schema from a container's HEADER only (magic + metadata map)
    — for schema inference without decoding any data block. ``data`` needs
    only the first ~few KB of the file (pass a bounded read, not the whole
    multi-GB container)."""
    buf = io.BytesIO(data)
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta = _decode(buf, {"type": "map", "values": "bytes"})
    return json.loads(meta["avro.schema"].decode("utf-8"))


def parse_container(data: bytes) -> tuple[dict, list]:
    """Container bytes → (writer schema dict, records)."""
    buf = io.BytesIO(data)
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta = _decode(buf, {"type": "map", "values": "bytes"})
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = buf.read(16)
    records = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, os.SEEK_CUR)
        n = _read_long(buf)
        block = _read_bytes(buf)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported avro codec: {codec}")
        bbuf = io.BytesIO(block)
        records.extend(_decode(bbuf, schema) for _ in range(n))
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch (corrupt container)")
    return schema, records


def write_container(
    path: str, schema: dict, records: list, codec: str = "null", block_size: int = 64
) -> None:
    """Test helper: records → container file (multi-block, optional deflate)."""
    if codec not in ("null", "deflate"):
        raise ValueError(
            f"unsupported avro codec: {codec!r} (write supports null/deflate)"
        )  # failing here beats stamping a codec every reader will reject
    sync = bytes((i * 37 + 11) % 256 for i in range(16))  # deterministic
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    _encode(out, {"type": "map", "values": "bytes"}, meta)
    out.write(sync)
    for lo in range(0, len(records), block_size):
        chunk = records[lo : lo + block_size]
        body = io.BytesIO()
        for r in chunk:
            _encode(body, schema, r)
        raw = body.getvalue()
        if codec == "deflate":
            c = zlib.compressobj(9, zlib.DEFLATED, -15)
            raw = c.compress(raw) + c.flush()
        _write_long(out, len(chunk))
        _write_bytes(out, raw)
        out.write(sync)
    with open(path, "wb") as f:
        f.write(out.getvalue())


# ----------------------------------------------------- avro → spark schema


def avro_to_spark_schema(schema: dict):
    """Writer-schema → Spark StructType (the typing the reference's
    AvroData conversion produces: unions with null → nullable field)."""
    from pyspark.sql import types as T

    def conv(s):
        if isinstance(s, list):
            non_null = [b for b in s if b != "null"]
            if len(non_null) != 1:
                raise ValueError(f"only [null, T] unions supported, got {s}")
            return conv(non_null[0])
        if isinstance(s, dict) and "logicalType" in s:
            lt = s["logicalType"]
            if lt == "decimal":
                return T.DecimalType(
                    int(s.get("precision", 10)), int(s.get("scale", 0))
                )
            if lt == "date":
                return T.DateType()
            if lt in ("timestamp-millis", "timestamp-micros"):
                return T.TimestampType()
            if lt in ("local-timestamp-millis", "local-timestamp-micros"):
                # zone-less wall-clock time: Spark's TIMESTAMP_NTZ (the
                # same mapping spark-avro uses)
                return T.TimestampNTZType()
            # uuid → string and time-millis/micros → int/long: fall
            # through to the underlying primitive (Spark has no UUID
            # type; spark-avro surfaces these the same way)
        t = s if isinstance(s, str) else s["type"]
        prim = {
            "boolean": T.BooleanType(), "int": T.IntegerType(),
            "long": T.LongType(), "float": T.FloatType(),
            "double": T.DoubleType(), "string": T.StringType(),
            "bytes": T.BinaryType(), "null": T.NullType(),
        }
        if t in prim:
            return prim[t]
        if t == "enum":
            return T.StringType()
        if t == "fixed":
            return T.BinaryType()
        if t == "record":
            return T.StructType(
                [T.StructField(f["name"], conv(f["type"]), True) for f in s["fields"]]
            )
        if t == "array":
            return T.ArrayType(conv(s["items"]), True)
        if t == "map":
            return T.MapType(T.StringType(), conv(s["values"]), True)
        raise ValueError(f"unsupported avro type: {t!r}")

    st = conv(schema)
    from pyspark.sql import types as T  # noqa: F811

    if not isinstance(st, T.StructType):
        raise ValueError("top-level avro schema must be a record")
    return st


# --------------------------------------------------- schema resolution


def _default_value(field: dict):
    """Materialize a reader-field JSON default per the Avro spec: the
    default is written in JSON against the field's type (first union
    branch); bytes/fixed defaults are JSON strings of latin-1 codepoints."""
    d = field["default"]
    t = field["type"]
    if isinstance(t, list):
        t = t[0]  # union default targets the FIRST branch
    tn = t if isinstance(t, str) else t.get("type")
    if tn in ("bytes", "fixed") and isinstance(d, str):
        d = d.encode("latin-1")
    if isinstance(t, dict) and "logicalType" in t and d is not None:
        # defaults are written against the RAW type; surface the logical
        # value so a defaulted decimal/date/timestamp column stays typed
        return _from_logical(t, d)
    return d


# The spec's type-promotion lattice ('Schema Resolution'): a writer type
# (key) is readable as any member of its value set.
_PROMOTIONS = {
    "null": {"null"},
    "boolean": {"boolean"},
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
}


def _primitive_name(t) -> str | None:
    """The primitive type name of a schema, or None for unions/complex
    types (those resolve structurally downstream)."""
    if isinstance(t, str):
        return t if t in _PROMOTIONS else None
    if isinstance(t, dict):
        tn = t.get("type")
        return tn if tn in _PROMOTIONS else None
    return None


def _logical_value(t) -> str | None:
    """What a decimal/date/timestamp logical type decodes to (millis and
    micros alike), or None when the value is the primitive's own."""
    lt = t.get("logicalType", "") if isinstance(t, dict) else ""
    if lt in ("decimal", "date") or "timestamp-" in lt:
        return lt.removesuffix("-millis").removesuffix("-micros")
    return None


def _decimal_fits(wt: dict, rt: dict) -> bool:
    """A reader decimal with at least the writer's scale and integer
    digits holds every writer value exactly."""
    ws, rs = wt.get("scale", 0), rt.get("scale", 0)
    return rs >= ws and rt.get("precision", 10) - rs >= wt.get("precision", 10) - ws


def reader_defaults(writer_schema: dict, reader_schema: dict) -> dict:
    """Defaults for reader fields absent from the writer (by name AND
    alias); a missing field without a default is a resolution error.
    Returns {field_name: default_value}. Kept as the narrow public
    surface; resolve_fields() below is the full plan."""
    return resolve_fields(writer_schema, reader_schema)[1]


def resolve_fields(
    writer_schema: dict, reader_schema: dict, _path: str = ""
) -> tuple[list, dict, dict]:
    """Avro schema resolution for records (the spec's 'Schema Resolution'
    rules, the part GenericDatumReader(writer, reader) applies in
    AvroFileReader.java:43-47):

    - reader fields match writer fields by NAME, else by any reader-side
      ALIAS (the rename mechanism);
    - a reader field with no writer match takes its declared default;
      no default is a resolution error;
    - primitive writer→reader type changes must follow the promotion
      lattice (int→long/float/double, long→float/double, float→double,
      string↔bytes) — anything else is a resolution error; string↔bytes
      and int/long → float/double get a value converter;
    - a date/timestamp/decimal logical type reads only as the same kind
      (millis ↔ micros; a decimal only as one at least as wide) — its
      decoded value is not the underlying primitive's;
    - writer-only fields are dropped.

    Returns (plan, defaults, converters): plan is
    [(reader_name, writer_name_or_None)], defaults maps unmatched reader
    names to their materialized default, converters maps reader names to
    value-conversion callables."""
    writer_fields = {f["name"]: f for f in writer_schema.get("fields", [])}
    plan: list[tuple[str, str | None]] = []
    defaults: dict = {}
    converters: dict = {}
    for f in reader_schema.get("fields", []):
        rname = f["name"]
        src = rname if rname in writer_fields else None
        if src is None:
            for alias in f.get("aliases") or []:
                if alias in writer_fields:
                    src = alias
                    break
        if src is None:
            if "default" not in f:
                raise ValueError(
                    f"reader field {rname!r} absent from writer schema "
                    "and has no default (Avro schema-resolution error)"
                )
            defaults[rname] = _default_value(f)
            plan.append((rname, None))
            continue
        fpath = f"{_path}.{rname}" if _path else rname
        conv = _value_resolver(writer_fields[src]["type"], f["type"], fpath)
        if conv is not None:
            converters[rname] = conv
        plan.append((rname, src))
    return plan, defaults, converters


def _is_record(t) -> bool:
    return isinstance(t, dict) and t.get("type") == "record"


def _kind(t) -> str | None:
    """Coarse structural kind for cross-kind validation; None = unknown
    (named-type reference or unsupported shape — no validation)."""
    if _primitive_name(t) is not None:
        return "primitive"
    if isinstance(t, list):
        return "union"
    if isinstance(t, dict):
        k = t.get("type")
        if k in ("record", "array", "map", "enum", "fixed"):
            return k
        if k in _PROMOTIONS:
            return "primitive"
    return None


def _nonnull_branches(t) -> list:
    return [b for b in t if b != "null"] if isinstance(t, list) else [t]


def _value_resolver(wt, rt, path: str):
    """Converter for one writer→reader type pair, or None when values
    pass through unchanged. Validates primitive promotions and
    cross-kind mismatches, and RECURSES through nested records / arrays
    / maps — including through nullable unions (``["null", X]``, the
    dominant nesting pattern: the null branch passes through, the
    non-null branch resolves) — so sub-record fields get the same
    name/alias/default/promotion rules as top-level ones. Multi-branch
    non-null unions, enums, fixed, and named-type references pass
    through to downstream structural typing."""
    # unions: resolve the single non-null branch pair; a value of None
    # passes through every converter unchanged (converters guard on
    # isinstance), so the null branch needs no special casing
    if isinstance(wt, list) or isinstance(rt, list):
        wb, rb = _nonnull_branches(wt), _nonnull_branches(rt)
        if len(wb) == 1 and len(rb) == 1:
            return _value_resolver(wb[0], rb[0], path)
        return None  # multi-branch unions: structural downstream
    wp, rp = _primitive_name(wt), _primitive_name(rt)
    if wp is not None and rp is not None:
        wl, rl = _logical_value(wt), _logical_value(rt)
        if (
            rp not in _PROMOTIONS[wp]
            or wl != rl
            or (wl == "decimal" and not _decimal_fits(wt, rt))
        ):
            # a decoded date/timestamp/decimal is not the reader's value
            # (a datetime is no long), and a narrower decimal loses digits
            raise ValueError(
                f"cannot resolve writer type {wt!r} as reader type "
                f"{rt!r} for field {path!r} (Avro schema-resolution error)"
            )
        if wp == "bytes" and rp == "string":
            return (
                lambda v: v.decode("utf-8", "replace")
                if isinstance(v, (bytes, bytearray))
                else v
            )
        if wp == "string" and rp == "bytes":
            return lambda v: v.encode("utf-8") if isinstance(v, str) else v
        if wp in ("int", "long") and rp in ("float", "double"):
            # the reader's value is a float; an int past 2**53 would fail
            # Arrow's safe int64 → double conversion
            return lambda v: float(v) if isinstance(v, int) else v
        return None
    wk, rk = _kind(wt), _kind(rt)
    if wk is not None and rk is not None and wk != rk:
        # record-vs-primitive, array-vs-map, ... cannot resolve; failing
        # at plan time beats silent nulls out of from_json
        raise ValueError(
            f"cannot resolve writer {wk} schema as reader {rk} for field "
            f"{path!r} (Avro schema-resolution error)"
        )
    if _is_record(wt) and _is_record(rt):
        sub = resolve_fields(wt, rt, _path=path)  # validates eagerly
        plan, defaults, converters = sub
        writer_names = [f["name"] for f in wt.get("fields", [])]
        if (
            not defaults
            and not converters
            and [n for n, _ in plan] == writer_names
            and all(n == s for n, s in plan)
        ):
            return None  # identity: skip per-record dict rebuilding

        def conv_record(v, _sub=sub):
            return _apply_plan(v, *_sub) if isinstance(v, dict) else v

        return conv_record
    if (
        isinstance(wt, dict) and wt.get("type") == "array"
        and isinstance(rt, dict) and rt.get("type") == "array"
    ):
        inner = _value_resolver(wt["items"], rt["items"], f"{path}[]")
        if inner is not None:
            return (
                lambda v: [inner(x) if x is not None else None for x in v]
                if isinstance(v, list)
                else v
            )
        return None
    if (
        isinstance(wt, dict) and wt.get("type") == "map"
        and isinstance(rt, dict) and rt.get("type") == "map"
    ):
        inner = _value_resolver(wt["values"], rt["values"], f"{path}{{}}")
        if inner is not None:
            return (
                lambda v: {k: inner(x) if x is not None else None for k, x in v.items()}
                if isinstance(v, dict)
                else v
            )
        return None
    return None


def _apply_plan(r: dict, plan: list, defaults: dict, converters: dict) -> dict:
    row = {}
    for rname, src in plan:
        if src is None:
            row[rname] = r[rname] if rname in r else defaults[rname]
        else:
            v = r.get(src)
            conv = converters.get(rname)
            row[rname] = conv(v) if (conv is not None and v is not None) else v
    return row


def resolve_records(records: list, writer_schema: dict, reader_schema: dict) -> list:
    """Apply record-level resolution: match by name/alias (recursively
    through nested records/arrays/maps), inject reader defaults for
    fields the writer lacks, convert string↔bytes and int→float
    promotions, drop writer-only fields."""
    plan, defaults, converters = resolve_fields(writer_schema, reader_schema)
    return [_apply_plan(r, plan, defaults, converters) for r in records]


def with_null_defaults(schema):
    """``schema`` with every record field, nested ones included, defaulting
    to null: a writer schema made the reader schema of a read typed by one
    file, so a field another file lacks null-fills (as a projection does)
    instead of failing resolution."""
    if isinstance(schema, list):
        return [with_null_defaults(b) for b in schema]
    if not isinstance(schema, dict):
        return schema
    out = {k: with_null_defaults(v) for k, v in schema.items() if k in ("items", "values")}
    if schema.get("type") == "record":
        out["fields"] = [
            {**f, "type": with_null_defaults(f["type"]), "default": None}
            for f in schema["fields"]
        ]
    return {**schema, **out}
