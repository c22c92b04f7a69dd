"""Pure-Python Avro container path — makes AvroFileReader parity REAL in
this sandbox (no spark-avro jar, no Python avro lib): spec-level container
codec round-trips, typed Spark reads, reader-schema projection, deflate
blocks, and an engine end-to-end over .avro files."""

from __future__ import annotations

import io
import os

import pytest
from pyspark.sql import types as T

from kafka_connect_fs_spark.sources.avro_io import (
    avro_to_spark_schema,
    parse_container,
    write_container,
)
from kafka_connect_fs_spark.sources.readers import WorkItem, read_avro_python

SCHEMA = {
    "type": "record",
    "name": "Turn",
    "fields": [
        {"name": "conv_id", "type": "string"},
        {"name": "turn_idx", "type": "int"},
        {"name": "score", "type": "double"},
        {"name": "big", "type": "long"},
        {"name": "flag", "type": "boolean"},
        {"name": "tool", "type": ["null", "string"]},
        {"name": "payload", "type": "bytes"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "int"}},
        {"name": "kind", "type": {"type": "enum", "name": "K", "symbols": ["a", "b"]}},
    ],
}


def recs(n):
    return [
        {
            "conv_id": f"c{i}",
            "turn_idx": i,
            "score": i / 2,
            "big": 2**40 + i,
            "flag": i % 2 == 0,
            "tool": None if i % 3 == 0 else f"t{i}",
            "payload": bytes([i % 256, 255, 0]),
            "tags": [f"x{i}", "y"],
            "attrs": {"n": i},
            "kind": "a" if i % 2 else "b",
        }
        for i in range(n)
    ]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip_all_types(tmp_path, codec):
    p = str(tmp_path / f"t_{codec}.avro")
    rows = recs(150)  # > block_size → multi-block
    write_container(p, SCHEMA, rows, codec=codec)
    schema, back = parse_container(open(p, "rb").read())
    assert schema["name"] == "Turn" and back == rows


def test_spark_read_typed(spark, tmp_path):
    p = str(tmp_path / "t.avro")
    write_container(p, SCHEMA, recs(40), codec="deflate")
    df = read_avro_python(spark, [WorkItem(p, 0, os.path.getsize(p))])
    dt = dict(df.dtypes)
    assert dt["turn_idx"] == "int" and dt["big"] == "bigint"
    assert dt["payload"] == "binary" and dt["tags"] == "array<string>"
    out = {r.conv_id: r for r in df.collect()}
    assert len(out) == 40
    r7 = out["c7"]
    assert (r7.turn_idx, r7.big, r7.flag, r7.kind) == (7, 2**40 + 7, False, "a")
    assert bytes(r7.payload) == bytes([7, 255, 0]) and r7.attrs["n"] == 7
    assert out["c3"].tool is None and out["c4"].tool == "t4"
    # derived schema equals avro_to_spark_schema
    assert avro_to_spark_schema(SCHEMA)["big"].dataType == T.LongType()


def test_mixed_generation_drift_skips_the_retyped_file(spark, tmp_path, caplog):
    """With no schema and no reader schema, the schema is inferred from the
    first file and every other file resolves against it. A file that
    retypes a shared field (x: long → string, a timestamp-millis long
    under a plain long) or narrows it (x: double under an inferred long, a
    narrower decimal) is skipped with a warning
    naming it — not NULL-filled and not fatal to the read. A file that
    adds or drops fields, or whose types Avro promotes to the inferred
    ones (int/long/float → double, a wider decimal), reads."""
    import decimal
    import logging

    def gen(name, fields, rows):
        p = str(tmp_path / name)
        write_container(p, {"type": "record", "name": "R", "fields": fields}, rows)
        return WorkItem(p, 0, os.path.getsize(p))

    def dec(precision, scale):
        return {"type": "bytes", "logicalType": "decimal",
                "precision": precision, "scale": scale}

    a = gen("a.avro", [{"name": "x", "type": "long"}, {"name": "y", "type": "string"}],
            [{"x": 1, "y": "p"}, {"x": 2, "y": "q"}])
    b = gen("b.avro", [{"name": "x", "type": "string"}, {"name": "y", "type": "string"}],
            [{"x": "three", "y": "r"}])
    c = gen("c.avro", [{"name": "x", "type": "long"}, {"name": "z", "type": "int"}],
            [{"x": 4, "z": 0}])
    narrowed = gen("n.avro", [{"name": "x", "type": "double"}], [{"x": 0.5}])
    millis = {"type": "long", "logicalType": "timestamp-millis"}
    stamped = gen("t.avro", [{"name": "x", "type": millis}], [{"x": 5}])
    got = read_avro_python(spark, [a, b, c, narrowed, stamped]).collect()
    assert sorted((r._src_file, r.x, r.y) for r in got) == [
        (a.path, 1, "p"), (a.path, 2, "q"), (c.path, 4, None)
    ]

    # widening: a double/decimal(12,4) first file types the read; int,
    # long (past 2**53), float and a narrower-scale decimal promote to it
    d = gen("d.avro", [{"name": "x", "type": "double"}, {"name": "m", "type": dec(12, 4)}],
            [{"x": 0.5, "m": decimal.Decimal("1.2345")}])
    e = gen("e.avro", [{"name": "x", "type": "int"}, {"name": "m", "type": dec(6, 2)}],
            [{"x": 7, "m": decimal.Decimal("9.75")}])
    f = gen("f.avro", [{"name": "x", "type": "float"}], [{"x": 1.5}])
    g = gen("g.avro", [{"name": "x", "type": "long"}], [{"x": 2**60}])
    h = gen("h.avro", [{"name": "x", "type": "int"}, {"name": "m", "type": dec(12, 6)}],
            [{"x": 8, "m": decimal.Decimal("1.000001")}])
    got = read_avro_python(spark, [d, e, f, g, h]).collect()
    assert sorted((r._src_file, r.x, r.m) for r in got) == [
        (d.path, 0.5, decimal.Decimal("1.2345")),
        (e.path, 7.0, decimal.Decimal("9.7500")),
        (f.path, 1.5, None),
        (g.path, float(2**60), None),
    ]

    # the warning is logged inside the Python task; check it where the
    # task's per-file decode runs
    from kafka_connect_fs_spark.sources.readers import _avro_file_records

    inferred = parse_container(open(a.path, "rb").read())[0]
    with caplog.at_level(logging.WARNING, logger="kafka_connect_fs_spark"):
        assert _avro_file_records(b, None, inferred) == []
        assert _avro_file_records(narrowed, None, inferred) == []
    assert b.path in caplog.text and "'string' as reader type 'long'" in caplog.text
    assert narrowed.path in caplog.text
    assert _avro_file_records(c, None, inferred) == [{"x": 4, "y": None}]


def test_reader_schema_projection(spark, tmp_path):
    """AvroFileReader reader-schema parity (:24,43-47): a narrower declared
    schema projects; a field absent from the writer fills with null."""
    p = str(tmp_path / "t.avro")
    write_container(p, SCHEMA, recs(10))
    reader_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("added_later", T.StringType()),
        ]
    )
    df = read_avro_python(
        spark, [WorkItem(p, 0, os.path.getsize(p))], schema=reader_schema
    )
    rows = df.orderBy("turn_idx").collect()
    assert [f.name for f in df.schema.fields][2:] == [
        "conv_id", "turn_idx", "added_later"
    ]
    assert rows[0].conv_id == "c0" and rows[0].added_later is None


def test_engine_ingests_avro_files_end_to_end(spark, tmp_path):
    """Rotate-based avro ingest through the engine (agnostic dispatch by
    .avro extension), exactly-once across triggers."""
    from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine

    os.makedirs(tmp_path / "src")
    ev_schema = {
        "type": "record",
        "name": "Ev",
        "fields": [
            {"name": "conv_id", "type": "string"},
            {"name": "turn_idx", "type": "int"},
            {"name": "role", "type": "string"},
            {"name": "text", "type": "string"},
            {"name": "ts", "type": "string"},
        ],
    }

    def ev(c, t, text, s):
        return {"conv_id": c, "turn_idx": t, "role": "u", "text": text,
                "ts": f"2024-01-01 00:00:{s:02d}"}

    write_container(str(tmp_path / "src" / "a.avro"), ev_schema,
                    [ev("c1", 0, "hi", 1), ev("c1", 1, "yo", 2)])
    spark_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    eng = IngestEngine(
        spark,
        IngestConfig(
            uris=[str(tmp_path / "src")], table_root=str(tmp_path / "t"),
            checkpoint_root=str(tmp_path / "c"), fmt="agnostic",
            schema=spark_schema, n_buckets=4,
        ),
    )
    assert eng.run_once().n_events == 2
    assert eng.run_once().n_events == 0  # rotate semantics: never re-read
    write_container(str(tmp_path / "src" / "b.avro"), ev_schema,
                    [ev("c2", 0, "new", 9)], codec="deflate")
    assert eng.run_once().n_events == 1
    got = {(r.conv_id, r.turn_idx): r.text for r in eng.lake.read().collect()}
    assert got == {("c1", 0): "hi", ("c1", 1): "yo", ("c2", 0): "new"}


def test_reader_schema_defaults_materialize(spark, tmp_path):
    """Avro schema resolution (AvroFileReader.java:43-47): a reader field
    missing from the writer schema takes its declared DEFAULT (not a bare
    null-fill), per file; writer-only fields are dropped; a missing field
    without a default is a resolution error."""
    import json as _json

    from kafka_connect_fs_spark.sources.avro_io import reader_defaults

    p = str(tmp_path / "old.avro")
    write_container(p, SCHEMA, recs(6))
    reader = {
        "type": "record",
        "name": "Turn",
        "fields": [
            {"name": "conv_id", "type": "string"},
            {"name": "turn_idx", "type": "int"},
            {"name": "quality", "type": "int", "default": 42},
            {"name": "note", "type": ["null", "string"], "default": None},
        ],
    }
    df = read_avro_python(
        spark, [WorkItem(p, 0, os.path.getsize(p))], reader_schema=reader
    )
    rows = df.orderBy("turn_idx").collect()
    assert len(rows) == 6
    assert all(r.quality == 42 and r.note is None for r in rows)
    assert "score" not in df.columns  # writer-only field dropped
    # JSON-string form (what the native avroSchema option carries) works too
    df2 = read_avro_python(
        spark, [WorkItem(p, 0, os.path.getsize(p))], reader_schema=_json.dumps(reader)
    )
    assert df2.orderBy("turn_idx").collect()[0].quality == 42
    # resolution error: absent field with no default
    bad = {
        "type": "record",
        "name": "Turn",
        "fields": [{"name": "nope", "type": "int"}],
    }
    with pytest.raises(Exception, match="no default"):
        read_avro_python(
            spark, [WorkItem(p, 0, os.path.getsize(p))], reader_schema=bad
        ).collect()
    # bytes default decodes latin-1 per the spec
    wd = reader_defaults(
        {"fields": [{"name": "a", "type": "string"}]},
        {"fields": [{"name": "a", "type": "string"},
                    {"name": "raw", "type": "bytes", "default": "ab"}]},
    )
    assert wd == {"raw": b"ab"}


def test_reader_schema_promotions_and_aliases(spark, tmp_path):
    """VERDICT r4 #3 — the rest of the spec's Schema Resolution rules
    (ref AvroFileReader.java:43-47): writer int read as reader long /
    double with exact values, string↔bytes promotion converts values,
    a reader field ALIAS matches a renamed writer field, and an illegal
    narrowing (writer long → reader int) is a resolution error."""
    p = str(tmp_path / "promote.avro")
    write_container(p, SCHEMA, recs(5))
    reader = {
        "type": "record",
        "name": "Turn",
        "fields": [
            # renamed via alias: value comes from writer field conv_id
            {"name": "conversation", "type": "string", "aliases": ["conv_id"]},
            {"name": "turn_idx", "type": "long"},       # int -> long
            {"name": "score", "type": "double"},         # identity
            {"name": "payload", "type": "string"},       # bytes -> string
            {"name": "kind_note", "type": "bytes", "default": "zz"},
        ],
    }
    df = read_avro_python(
        spark, [WorkItem(p, 0, os.path.getsize(p))], reader_schema=reader
    )
    assert dict(df.dtypes)["turn_idx"] == "bigint"
    rows = df.orderBy("turn_idx").collect()
    assert [r.conversation for r in rows] == [f"c{i}" for i in range(5)]
    assert [r.turn_idx for r in rows] == list(range(5))
    # bytes payload [i, 255, 0] decodes utf-8/replace as a string
    assert rows[0].payload == bytes([0, 255, 0]).decode("utf-8", "replace")
    assert all(bytes(r.kind_note) == b"zz" for r in rows)
    # int -> double promotion keeps exact small values
    reader_d = {
        "type": "record",
        "name": "Turn",
        "fields": [{"name": "turn_idx", "type": "double"}],
    }
    got = read_avro_python(
        spark, [WorkItem(p, 0, os.path.getsize(p))], reader_schema=reader_d
    ).orderBy("turn_idx").collect()
    assert [r.turn_idx for r in got] == [float(i) for i in range(5)]
    # illegal narrowing: writer long -> reader int
    bad = {
        "type": "record",
        "name": "Turn",
        "fields": [{"name": "big", "type": "int"}],
    }
    with pytest.raises(Exception, match="cannot resolve"):
        read_avro_python(
            spark, [WorkItem(p, 0, os.path.getsize(p))], reader_schema=bad
        ).collect()


def test_resolve_fields_string_to_bytes_and_alias_unit():
    from kafka_connect_fs_spark.sources.avro_io import resolve_records

    writer = {"fields": [{"name": "old_name", "type": "string"}]}
    reader = {
        "fields": [
            {"name": "new_name", "type": "bytes", "aliases": ["old_name"]}
        ]
    }
    out = resolve_records([{"old_name": "hé"}], writer, reader)
    assert out == [{"new_name": "hé".encode("utf-8")}]


def test_nested_record_resolution_recurses():
    """Resolution is structural all the way down: a NESTED record's
    fields get the same alias/default/promotion rules — including inside
    arrays — and illegal nested narrowing raises."""
    from kafka_connect_fs_spark.sources.avro_io import resolve_records

    inner_w = {"type": "record", "name": "Inner", "fields": [
        {"name": "n", "type": "int"},
        {"name": "old", "type": "string"}]}
    writer = {"type": "record", "name": "Outer", "fields": [
        {"name": "one", "type": inner_w},
        {"name": "many", "type": {"type": "array", "items": inner_w}}]}
    inner_r = {"type": "record", "name": "Inner", "fields": [
        {"name": "n", "type": "long"},                       # promoted
        {"name": "renamed", "type": "string", "aliases": ["old"]},
        {"name": "extra", "type": "int", "default": 5}]}
    reader = {"type": "record", "name": "Outer", "fields": [
        {"name": "one", "type": inner_r},
        {"name": "many", "type": {"type": "array", "items": inner_r}}]}
    recs = [{"one": {"n": 1, "old": "a"},
             "many": [{"n": 2, "old": "b"}, None]}]
    out = resolve_records(recs, writer, reader)
    assert out == [{"one": {"n": 1, "renamed": "a", "extra": 5},
                    "many": [{"n": 2, "renamed": "b", "extra": 5}, None]}]
    # nested illegal narrowing fails eagerly at plan time
    bad_inner = {"type": "record", "name": "Inner",
                 "fields": [{"name": "n", "type": "int"}]}
    bad_writer = {"type": "record", "name": "Outer", "fields": [
        {"name": "one", "type": {"type": "record", "name": "Inner",
                                 "fields": [{"name": "n", "type": "long"}]}}]}
    bad_reader = {"type": "record", "name": "Outer",
                  "fields": [{"name": "one", "type": bad_inner}]}
    with pytest.raises(ValueError, match="cannot resolve"):
        resolve_records([], bad_writer, bad_reader)


def test_nullable_union_nested_resolution_and_cross_kind_errors():
    """Review r4c: ["null", X] wraps most real nested fields — the
    non-null branch must resolve (aliases/defaults/promotions and
    bytes→string conversion), and structurally impossible pairs
    (record vs primitive, array vs map) must raise at plan time, not
    pass through to silent from_json nulls."""
    from kafka_connect_fs_spark.sources.avro_io import resolve_records

    inner_w = {"type": "record", "name": "I", "fields": [
        {"name": "old", "type": "string"}]}
    inner_r = {"type": "record", "name": "I", "fields": [
        {"name": "renamed", "type": "string", "aliases": ["old"]},
        {"name": "extra", "type": "int", "default": 7}]}
    writer = {"type": "record", "name": "O", "fields": [
        {"name": "one", "type": ["null", inner_w]},
        {"name": "raw", "type": ["null", "bytes"]}]}
    reader = {"type": "record", "name": "O", "fields": [
        {"name": "one", "type": ["null", inner_r]},
        {"name": "raw", "type": ["null", "string"]}]}
    out = resolve_records(
        [{"one": {"old": "a"}, "raw": b"hi"}, {"one": None, "raw": None}],
        writer, reader,
    )
    assert out == [
        {"one": {"renamed": "a", "extra": 7}, "raw": "hi"},
        {"one": None, "raw": None},
    ]
    # nested narrowing INSIDE the union raises with the full field path
    bad_reader = {"type": "record", "name": "O", "fields": [
        {"name": "one", "type": ["null", {"type": "record", "name": "I",
            "fields": [{"name": "old", "type": "int"}]}]},
        {"name": "raw", "type": ["null", "bytes"]}]}
    with pytest.raises(ValueError, match=r"one\.old"):
        resolve_records([], writer, bad_reader)
    # cross-kind: writer array vs reader map
    w2 = {"fields": [{"name": "x", "type": {"type": "array", "items": "int"}}]}
    r2 = {"fields": [{"name": "x", "type": {"type": "map", "values": "int"}}]}
    with pytest.raises(ValueError, match="cannot resolve writer array"):
        resolve_records([], w2, r2)
    # record vs primitive
    w3 = {"fields": [{"name": "x", "type": inner_w}]}
    r3 = {"fields": [{"name": "x", "type": "string"}]}
    with pytest.raises(ValueError, match="cannot resolve writer record"):
        resolve_records([], w3, r3)


def test_identity_nested_schema_builds_no_converter():
    """An unevolved nested record must NOT pay per-record dict rebuilding."""
    from kafka_connect_fs_spark.sources.avro_io import resolve_fields

    inner = {"type": "record", "name": "I", "fields": [
        {"name": "a", "type": "int"}, {"name": "b", "type": "string"}]}
    schema = {"type": "record", "name": "O", "fields": [
        {"name": "one", "type": inner},
        {"name": "many", "type": {"type": "array", "items": inner}}]}
    plan, defaults, converters = resolve_fields(schema, schema)
    assert converters == {} and defaults == {}


def test_union_encode_matches_value_type():
    """Multi-branch non-null unions must encode by the VALUE's type, not
    the first non-null branch (["string","int"] given 3 used to crash)."""
    import io

    from kafka_connect_fs_spark.sources.avro_io import _decode, _encode

    for schema, values in [
        (["string", "int"], ["abc", 3]),
        (["int", "string"], [7, "xyz"]),
        (["null", "boolean", "long"], [None, True, 5]),
    ]:
        for v in values:
            out = io.BytesIO()
            _encode(out, schema, v)
            out.seek(0)
            assert _decode(out, schema) == v, (schema, v)


def test_truncated_trailing_boolean_raises_not_fabricates():
    import io

    from kafka_connect_fs_spark.sources.avro_io import _decode

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "x", "type": "long"}, {"name": "b", "type": "boolean"}]}
    good = io.BytesIO()
    from kafka_connect_fs_spark.sources.avro_io import _encode
    _encode(good, schema, {"x": 1, "b": True})
    data = good.getvalue()
    assert _decode(io.BytesIO(data), schema) == {"x": 1, "b": True}
    with pytest.raises(EOFError):
        _decode(io.BytesIO(data[:-1]), schema)  # boolean byte missing


def test_write_container_rejects_unknown_codec(tmp_path):
    from kafka_connect_fs_spark.sources.avro_io import write_container

    with pytest.raises(ValueError, match="unsupported avro codec"):
        write_container(
            str(tmp_path / "x.avro"),
            {"type": "record", "name": "R", "fields": [{"name": "x", "type": "long"}]},
            [{"x": 1}],
            codec="snappy",
        )


# ------------------------------------------------------- logical types

LOGICAL_SCHEMA = {
    "type": "record",
    "name": "L",
    "fields": [
        {"name": "id", "type": "int"},
        {
            "name": "amount",
            "type": {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": 20,
                "scale": 3,
            },
        },
        {
            "name": "amount_fixed",
            "type": {
                "type": "fixed",
                "name": "Dec8",
                "size": 8,
                "logicalType": "decimal",
                "precision": 18,
                "scale": 2,
            },
        },
        {"name": "day", "type": {"type": "int", "logicalType": "date"}},
        {
            "name": "ts_ms",
            "type": {"type": "long", "logicalType": "timestamp-millis"},
        },
        {
            "name": "ts_us",
            "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}],
        },
        {
            "name": "lts_ms",
            "type": {"type": "long", "logicalType": "local-timestamp-millis"},
        },
        {
            "name": "lts_us",
            "type": [
                "null",
                {"type": "long", "logicalType": "local-timestamp-micros"},
            ],
        },
        {"name": "uid", "type": {"type": "string", "logicalType": "uuid"}},
        {"name": "t_ms", "type": {"type": "int", "logicalType": "time-millis"}},
    ],
}


def _logical_recs(n):
    import datetime as dt
    from decimal import Decimal

    return [
        {
            "id": i,
            "amount": Decimal(f"{(-1) ** i * (10**13 + i)}.{i % 1000:03d}"),
            "amount_fixed": Decimal(f"{i * 7}.{i % 100:02d}"),
            "day": dt.date(1970, 1, 1) + dt.timedelta(days=i * 37 - 100),
            "ts_ms": dt.datetime(2020, 1, 1) + dt.timedelta(milliseconds=i * 777),
            "ts_us": None
            if i % 5 == 0
            else dt.datetime(2020, 1, 1) + dt.timedelta(microseconds=i * 999_999),
            "lts_ms": dt.datetime(2021, 6, 1) + dt.timedelta(milliseconds=i * 333),
            "lts_us": None
            if i % 7 == 0
            else dt.datetime(2021, 6, 1) + dt.timedelta(microseconds=i * 123_457),
            "uid": f"00000000-0000-4000-8000-{i:012d}",
            "t_ms": (i * 61_003) % 86_400_000,
        }
        for i in range(n)
    ]


def test_logical_types_codec_roundtrip(tmp_path):
    p = str(tmp_path / "logical.avro")
    rows = _logical_recs(40)
    write_container(p, LOGICAL_SCHEMA, rows)
    schema, back = parse_container(open(p, "rb").read())
    assert back == rows  # Decimal/date/datetime round-trip exactly


def test_logical_types_spark_schema():
    st = avro_to_spark_schema(LOGICAL_SCHEMA)
    assert st["amount"].dataType == T.DecimalType(20, 3)
    assert st["amount_fixed"].dataType == T.DecimalType(18, 2)
    assert st["day"].dataType == T.DateType()
    assert st["ts_ms"].dataType == T.TimestampType()
    assert st["ts_us"].dataType == T.TimestampType()
    # zone-less wall-clock → TIMESTAMP_NTZ; uuid stays string, time-millis
    # stays the underlying int (spark-avro's mappings)
    assert st["lts_ms"].dataType == T.TimestampNTZType()
    assert st["lts_us"].dataType == T.TimestampNTZType()
    assert st["uid"].dataType == T.StringType()
    assert st["t_ms"].dataType == T.IntegerType()


def test_logical_types_spark_read(spark, tmp_path):
    p = str(tmp_path / "logical.avro")
    rows = _logical_recs(25)
    write_container(p, LOGICAL_SCHEMA, rows)
    df = read_avro_python(spark, [WorkItem(p, 0, os.path.getsize(p))])
    got = {r.id: r for r in df.collect()}
    assert len(got) == 25
    for want in rows:
        g = got[want["id"]]
        assert g.amount == want["amount"]
        assert g.amount_fixed == want["amount_fixed"]
        assert g.day == want["day"]
        assert g.ts_ms == want["ts_ms"]
        assert g.ts_us == want["ts_us"]
        assert g.lts_ms == want["lts_ms"]
        assert g.lts_us == want["lts_us"]
        assert g.uid == want["uid"]
        assert g.t_ms == want["t_ms"]


def test_logical_decimal_negative_fixed_sign_extension(tmp_path):
    from decimal import Decimal

    p = str(tmp_path / "neg.avro")
    rows = [
        {
            "id": 0,
            "amount": Decimal("-0.001"),
            "amount_fixed": Decimal("-12345678901234.56"),
            "day": __import__("datetime").date(1969, 7, 20),
            "ts_ms": __import__("datetime").datetime(1969, 12, 31, 23, 59, 59),
            "ts_us": None,
            "lts_ms": __import__("datetime").datetime(1969, 12, 31, 23, 59, 59),
            "lts_us": None,
            "uid": "00000000-0000-4000-8000-000000000000",
            "t_ms": 0,
        }
    ]
    write_container(p, LOGICAL_SCHEMA, rows)
    _, back = parse_container(open(p, "rb").read())
    assert back == rows  # pre-epoch + negative decimals, fixed sign-extended
