"""Reader contract tests — mirrors the reference FileReaderTestBase suite
(readAllData / batches / seek / empty / invalid format) per format, plus the
byte-range split alignment the reference can't do (one iterator per file)."""

from __future__ import annotations

import bz2
import gzip
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_fs_spark.sources.readers import (
    RANGE_FAILED,
    RANGE_OK,
    RANGE_PARTIAL,
    WorkItem,
    detect_delimiter,
    format_for,
    infer_csv_header,
    infer_json_schema,
    outcome_accumulator,
    parse_csv,
    parse_xml_lines,
    parse_fixed_width,
    parse_jsonl,
    plan_line_splits,
    read_binary,
    read_columnar,
    read_lines,
    read_sequence_file,
    read_whole_file_records,
)

NUM_RECORDS = 100  # FileReaderTestBase.java:31


def write_lines(path, lines, mode="w"):
    with open(path, mode) as f:
        for l in lines:
            f.write(l + "\n")


@pytest.fixture()
def text_file(tmp_path):
    p = tmp_path / "data.txt"
    write_lines(p, [f"{i}_{i*7:08x}" for i in range(NUM_RECORDS)])
    return str(p)


def work(path, start=0):
    import os

    return [WorkItem(path, start, os.path.getsize(path))]


def test_read_all_lines_with_offsets(spark, text_file):
    rows = read_lines(spark, work(text_file)).orderBy("_src_offset").collect()
    assert len(rows) == NUM_RECORDS
    assert rows[0].value == "0_00000000" and rows[0]._src_offset == 0
    # offsets are exact byte positions: re-slicing the file reproduces a line
    data = open(text_file, "rb").read()
    r50 = rows[50]
    assert data[r50._src_offset : r50._src_end].decode().rstrip("\n") == r50.value


def test_seek_semantics_resume_from_offset(spark, text_file):
    """Reference seekFile test (FileReaderTestBase.java:175-197): reading
    from a committed mid-file offset yields exactly the remaining records."""
    all_rows = read_lines(spark, work(text_file)).orderBy("_src_offset").collect()
    mid = all_rows[NUM_RECORDS // 2]._src_offset
    rest = read_lines(spark, work(text_file, start=mid)).orderBy("_src_offset").collect()
    assert len(rest) == NUM_RECORDS // 2
    assert rest[0].value == all_rows[NUM_RECORDS // 2].value


def test_split_alignment_no_lost_or_duplicated_lines(spark, tmp_path):
    p = tmp_path / "big.txt"
    lines = [f"line-{i:06d}-{'x' * (i % 37)}" for i in range(5000)]
    write_lines(p, lines)
    items = [WorkItem(str(p), 0, p.stat().st_size)]
    splits = plan_line_splits(items, max_split_bytes=10_000)
    assert len(splits) > 10
    out = read_lines(spark, items, max_split_bytes=10_000).collect()
    assert sorted(r.value for r in out) == sorted(lines)
    assert len({(r._src_file, r._src_offset) for r in out}) == len(lines)


def test_split_boundary_exactly_at_line_start(spark, tmp_path):
    """A line starting exactly at a split boundary must belong to that
    split, not be discarded (Hadoop LineRecordReader start-1 rule)."""
    p = tmp_path / "fixed.txt"
    lines = [f"{i:09d}" for i in range(4000)]  # 10 bytes per line with \n
    write_lines(p, lines)
    items = [WorkItem(str(p), 0, p.stat().st_size)]
    # 1000 divides every line length → every boundary is a line start
    out = read_lines(spark, items, max_split_bytes=1000).collect()
    assert sorted(r.value for r in out) == lines
    # and byte offsets are the exact arithmetic positions
    assert sorted(r._src_offset for r in out) == [i * 10 for i in range(4000)]


def test_unterminated_final_line_held_back_when_configured(spark, tmp_path):
    p = tmp_path / "grow.txt"
    with open(p, "w") as f:
        f.write("complete\npartial-no-newline")
    items = work(str(p))
    keep = read_lines(spark, items, emit_unterminated_final_line=True).collect()
    assert {r.value for r in keep} == {"complete", "partial-no-newline"}
    hold = read_lines(spark, items, emit_unterminated_final_line=False).collect()
    assert {r.value for r in hold} == {"complete"}


@pytest.mark.parametrize("comp,opener", [("gz", gzip.open), ("bz2", bz2.open)])
def test_compressed_text(spark, tmp_path, comp, opener):
    """CompressionType GZIP/BZIP2 (CompressionType.java:3-23)."""
    p = tmp_path / f"data.txt.{comp}"
    with opener(p, "wt") as f:
        for i in range(50):
            f.write(f"row-{i}\n")
    rows = read_lines(spark, work(str(p))).orderBy("_src_offset").collect()
    assert [r.value for r in rows] == [f"row-{i}" for i in range(50)]


def test_csv_typed_parse_with_header(spark, tmp_path):
    """Reference CSV fixture: 9 typed columns, '#' delimiter
    (CsvFileReaderTest.java:20-42)."""
    p = tmp_path / "data.csv"
    hdr = "#".join(f"column_{i}" for i in range(1, 10))
    row = "2#4#8#16#32.32#64.64#true#test bytes#test string"
    write_lines(p, [hdr] + [row] * 10)
    schema = T.StructType(
        [
            T.StructField("column_1", T.ByteType()),
            T.StructField("column_2", T.ShortType()),
            T.StructField("column_3", T.IntegerType()),
            T.StructField("column_4", T.LongType()),
            T.StructField("column_5", T.FloatType()),
            T.StructField("column_6", T.DoubleType()),
            T.StructField("column_7", T.BooleanType()),
            T.StructField("column_8", T.StringType()),
            T.StructField("column_9", T.StringType()),
        ]
    )
    lines = read_lines(spark, work(str(p)))
    out = parse_csv(lines, schema, sep="#", header=True).collect()
    assert len(out) == 10
    r = out[0]
    assert (r.column_1, r.column_3, r.column_7, r.column_9) == (2, 8, True, "test string")
    assert abs(r.column_6 - 64.64) < 1e-9
    assert infer_csv_header(str(p), sep="#") == [f"column_{i}" for i in range(1, 10)]


def test_csv_malformed_rows_null_policy(spark, tmp_path):
    """data_type_mapping_error=false ⇒ nulls (UnivocityFileReader.java:122-129)."""
    p = tmp_path / "bad.csv"
    write_lines(p, ["a,b", "1,2", "not_an_int,3"])
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.IntegerType())]
    )
    out = parse_csv(read_lines(spark, work(str(p))), schema, header=True).orderBy("_src_offset").collect()
    assert (out[0].a, out[0].b) == (1, 2)
    assert out[1].a is None and out[1].b == 3


def test_fixed_width(spark, tmp_path):
    p = tmp_path / "fw.dat"
    write_lines(p, ["Alice     025NYC", "Bob       031SFO"])
    lines = read_lines(spark, work(str(p)))
    out = parse_fixed_width(
        lines, [10, 3, 3], ["name", "age", "city"], ["string", "int", "string"]
    ).orderBy("_src_offset").collect()
    assert (out[0].name, out[0].age, out[0].city) == ("Alice", 25, "NYC")
    assert (out[1].name, out[1].age) == ("Bob", 31)


def test_jsonl_with_inferred_schema(spark, tmp_path):
    """Reference infers from record 0 (JacksonFileReader.java:35-43)."""
    p = tmp_path / "d.jsonl"
    recs = [{"a": i, "b": f"s{i}", "nested": {"x": i * 2}} for i in range(20)]
    write_lines(p, [json.dumps(r) for r in recs])
    schema = infer_json_schema(spark, str(p))
    assert {f.name for f in schema.fields} == {"a", "b", "nested"}
    out = parse_jsonl(read_lines(spark, work(str(p))), schema).orderBy("_src_offset").collect()
    assert len(out) == 20 and out[3].nested.x == 6


def test_yaml_whole_file(spark, tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text("name: test\ncount: 42\nflag: true\n")
    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("count", T.IntegerType()),
            T.StructField("flag", T.BooleanType()),
        ]
    )
    out = read_whole_file_records(spark, work(str(p)), "yaml", schema).collect()
    # NB: bracket access — Row.count is the tuple method
    assert len(out) == 1 and (out[0]["name"], out[0]["count"], out[0]["flag"]) == ("test", 42, True)


def test_xml_whole_file(spark, tmp_path):
    p = tmp_path / "d.xml"
    p.write_text("<root><name>test</name><count>7</count></root>")
    schema = T.StructType(
        [T.StructField("name", T.StringType()), T.StructField("count", T.IntegerType())]
    )
    out = read_whole_file_records(
        spark, work(str(p)), "xml", schema, {"record_path": "root"}
    ).collect()
    assert len(out) == 1 and (out[0]["name"], out[0]["count"]) == ("test", 7)


def test_parquet_with_projection(spark, tmp_path):
    """Column pruning ≈ reference Parquet `projection`
    (ParquetFileReader.java:47-49, people_projection.avsc)."""
    p = str(tmp_path / "people.parquet")
    spark.createDataFrame(
        [(f"name{i}", f"sur{i}", i) for i in range(100)], "name string, surname string, index int"
    ).coalesce(1).write.parquet(p)
    import glob

    f = glob.glob(p + "/*.parquet")[0]
    out = read_columnar(spark, [WorkItem(f, 0, 1)], "parquet", columns=["name", "index"])
    assert set(out.columns) == {"name", "index", "_src_file", "_src_offset"}
    assert out.count() == 100
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "surname" not in plan  # pruning reached the scan


def _columnar_roundtrip(spark, tmp_path, fmt):
    import glob

    p = str(tmp_path / f"d.{fmt}")
    spark.createDataFrame([(i, f"v{i}") for i in range(50)], "id int, v string").coalesce(
        1
    ).write.format(fmt).save(p)
    files = [WorkItem(f, 0, 1) for f in glob.glob(p + f"/*.{fmt}")]
    assert read_columnar(spark, files, fmt).count() == 50


def test_orc_roundtrip(spark, tmp_path):
    _columnar_roundtrip(spark, tmp_path, "orc")


def test_avro_roundtrip_when_available(spark, tmp_path):
    """spark-avro is an external module; absent in this sandbox, present on
    any spark-submit --packages deployment. Same code path as ORC."""
    from kafka_connect_fs_spark.sources.readers import avro_available

    if not avro_available(spark):
        pytest.skip("spark-avro jar not on classpath in this sandbox")
    _columnar_roundtrip(spark, tmp_path, "avro")


def test_binary_file_metadata(spark, tmp_path):
    """BinaryFileReader schema parity (BinaryFileReader.java:77-87)."""
    p = tmp_path / "blob.bin"
    p.write_bytes(b"\x00\x01\x02payload")
    out = read_binary(spark, work(str(p))).collect()
    assert len(out) == 1
    assert out[0].length == 10 and bytes(out[0].content) == b"\x00\x01\x02payload"


def test_agnostic_format_dispatch():
    """AgnosticFileReader extension dispatch (AgnosticFileReader.java:52-87)."""
    assert format_for("/a/b/data.parquet") == "parquet"
    assert format_for("/a/b/data.jsonl.gz") == "jsonl"
    assert format_for("/a/b/data.csv.bz2") == "csv"
    assert format_for("/a/b/noext") == "text"  # fallback, like the reference
    assert format_for("/a/b/x.custom", {"custom": "jsonl"}) == "jsonl"


def test_empty_work_returns_empty_frames(spark):
    """An empty scan is an empty frame the optimizer folds to a
    LocalRelation: collecting it runs no Spark job."""
    from tests.test_engine import _jobs_in_group

    assert read_lines(spark, []).count() == 0
    assert read_whole_file_records(spark, [], "text").count() == 0
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "pin-read-lines-empty")
    try:
        assert read_lines(spark, []).collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _jobs_in_group(spark, "pin-read-lines-empty") == 0


def test_sequence_file_roundtrip(spark, tmp_path):
    """SequenceFileReader parity (SequenceFileReader.java:17-173)."""
    from kafka_connect_fs_spark.sources.readers import read_sequence_file

    p = str(tmp_path / "seq")
    spark.sparkContext.parallelize([(i, f"v{i}") for i in range(20)], 2).saveAsSequenceFile(p)
    import glob

    files = [WorkItem(f, 0, 1) for f in glob.glob(p + "/part-*")]
    # typed Writables (SequenceFileReader.java:59-78): IntWritable keys come
    # back as a numeric column, Text values as string — inferred by default
    out = read_sequence_file(spark, files, key_field="k", value_field="v")
    assert dict(out.dtypes)["k"] == "bigint" and dict(out.dtypes)["v"] == "string"
    rows = {(r.k, r.v) for r in out.collect()}
    assert rows == {(i, f"v{i}") for i in range(20)}
    # explicit type override still honored
    out2 = read_sequence_file(
        spark, files, key_field="k", value_field="v", key_type="string"
    )
    assert dict(out2.dtypes)["k"] == "string"
    assert {r.k for r in out2.collect()} == {str(i) for i in range(20)}


def test_sequence_file_inference_runs_zero_jobs(spark, tmp_path):
    """Type inference must come from a driver-side header sniff (public
    format: 'SEQ' magic + version + two VInt-prefixed class names), not a
    one-job-per-file sc.sequenceFile(...).first() probe."""
    from kafka_connect_fs_spark.sources.readers import (
        _sniff_sequence_header,
        read_sequence_file,
    )

    p = str(tmp_path / "seqz")
    spark.sparkContext.parallelize([(i, f"v{i}") for i in range(10)], 3).saveAsSequenceFile(p)
    import glob

    files = [WorkItem(f, 0, 1) for f in glob.glob(p + "/part-*")]
    assert _sniff_sequence_header(files[0].path) == (
        "org.apache.hadoop.io.IntWritable",
        "org.apache.hadoop.io.Text",
    )
    sc = spark.sparkContext
    # pyspark's sequenceFile RDD *construction* itself runs a tiny
    # serializer-probe job per file (SerDeUtil), inference or not —
    # baseline that with explicit types, then assert the inferred path
    # adds ZERO jobs on top (the old .first() probe added one).
    sc.setJobGroup("seq-explicit", "baseline")
    try:
        read_sequence_file(spark, files, key_type="long", value_type="string")
        baseline = len(sc.statusTracker().getJobIdsForGroup("seq-explicit"))
    finally:
        sc.setJobGroup(None, None)
    sc.setJobGroup("seq-inferred", "must match baseline")
    try:
        out = read_sequence_file(spark, files)  # schema inferred from header
        inferred = len(sc.statusTracker().getJobIdsForGroup("seq-inferred"))
    finally:
        sc.setJobGroup(None, None)
    assert inferred == baseline, "type inference launched extra Spark jobs"
    assert dict(out.dtypes)["key"] == "bigint" and dict(out.dtypes)["value"] == "string"
    assert {(r.key, r.value) for r in out.collect()} == {(i, f"v{i}") for i in range(10)}
    # empty/garbage files are unsniffable, not crashes
    bad = tmp_path / "not_seq"
    bad.write_bytes(b"XYZ123")
    assert _sniff_sequence_header(str(bad)) is None
    empty = tmp_path / "empty_seq"
    empty.write_bytes(b"")
    assert _sniff_sequence_header(str(empty)) is None


def test_sequence_file_double_and_bytes_writables(spark, tmp_path):
    p = str(tmp_path / "seqd")
    spark.sparkContext.parallelize(
        [(float(i) / 2, f"v{i}".encode()) for i in range(5)], 1
    ).saveAsSequenceFile(p)
    import glob

    files = [WorkItem(f, 0, 1) for f in glob.glob(p + "/part-*")]
    out = read_sequence_file(spark, files)
    assert dict(out.dtypes)["key"] == "double" and dict(out.dtypes)["value"] == "binary"
    got = {(r.key, bytes(r.value)) for r in out.collect()}
    assert got == {(float(i) / 2, f"v{i}".encode()) for i in range(5)}


def test_text_whole_file_record(spark, tmp_path):
    """record_per_line=false (TextFileReader.java:54,87-92): one record per
    file, configurable field name."""
    p = tmp_path / "whole.txt"
    p.write_text("line1\nline2\nline3\n")
    out = read_whole_file_records(spark, work(str(p)), "text").collect()
    assert len(out) == 1 and out[0].value == "line1\nline2\nline3\n"
    named = read_whole_file_records(spark, work(str(p)), "text", None, {"field_name": "body"})
    assert [r.body for r in named.collect()] == ["line1\nline2\nline3\n"]


def test_text_whole_file_wrong_encoding_fails_the_read(spark, tmp_path):
    """A wrong ``encoding`` is a configuration error, not a poison file: the
    read fails (and is retried) instead of consuming the file with zero
    records."""
    p = tmp_path / "whole.txt"
    p.write_bytes("café\n".encode("utf-8"))
    out = read_whole_file_records(spark, work(str(p)), "text", None, {"encoding": "ascii"})
    with pytest.raises(Exception, match="UnicodeDecodeError"):
        out.collect()


def test_rows_to_skip_preamble(spark, tmp_path):
    """UnivocityFileReader rows_to_skip (:48): the first N lines are
    consumed (offsets advance past them) but never emitted — including
    across byte-range splits, where only the range anchored at byte 0
    holds the preamble."""
    p = tmp_path / "pre.csv"
    write_lines(p, ["PREAMBLE-1", "PREAMBLE-2", "a,b", "1,2", "3,4"])
    out = read_lines(spark, work(str(p)), rows_to_skip=2).orderBy("_src_offset").collect()
    assert [r.value for r in out] == ["a,b", "1,2", "3,4"]
    # consumed offset still covers the skipped preamble bytes
    acc = outcome_accumulator(spark)
    read_lines(spark, work(str(p)), rows_to_skip=2, outcomes=acc).collect()
    import os as _os

    assert [(o.kind, o.consumed_end, o.records) for o in acc.value] == [
        (RANGE_OK, _os.path.getsize(p), 3)
    ]
    # skipping more lines than the file has: everything consumed, nothing emitted
    none = read_lines(spark, work(str(p)), rows_to_skip=99).collect()
    assert none == []


def test_rows_to_skip_through_engine(spark, tmp_path):
    from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine

    os.makedirs(tmp_path / "src")
    write_lines(
        tmp_path / "src" / "a.csv",
        ["generated by legacy-exporter v3", "", "conv_id,turn_idx,role,text,ts",
         "c1,0,user,hi,2024-01-01 00:00:01", "c1,1,asst,yo,2024-01-01 00:00:02"],
    )
    schema = T.StructType(
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
            checkpoint_root=str(tmp_path / "c"), fmt="csv", schema=schema,
            n_buckets=4,
            # preamble + header both skipped; names come from the schema
            reader_options={"rows_to_skip": 3, "header": False},
        ),
    )
    res = eng.run_once()
    assert res.n_events == 2
    got = {(r.conv_id, r.turn_idx): r.text for r in eng.lake.read().collect()}
    assert got == {("c1", 0): "hi", ("c1", 1): "yo"}
    assert eng.run_once().n_events == 0  # offsets cover the preamble


def test_csv_comment_lines_skipped(spark, tmp_path):
    """settings.format.comment (UnivocityFileReader.java:53): comment lines
    are not records."""
    p = tmp_path / "c.csv"
    write_lines(p, ["a,b", "1,2", "# a comment, not a record", "3,4"])
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.IntegerType())]
    )
    out = parse_csv(
        read_lines(spark, work(str(p))), schema, header=True, options={"comment": "#"}
    ).orderBy("_src_offset").collect()
    assert [(r.a, r.b) for r in out] == [(1, 2), (3, 4)]


def test_csv_failfast_mode_raises(spark, tmp_path):
    """data_type_mapping_error=true (UnivocityFileReader.java:41,123):
    malformed input fails the read instead of nulling out."""
    from py4j.protocol import Py4JJavaError

    p = tmp_path / "bad.csv"
    write_lines(p, ["a,b", "1,2", "xx,3"])
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.IntegerType())]
    )
    df = parse_csv(
        read_lines(spark, work(str(p))), schema, header=True,
        options={"mode": "FAILFAST"},
    )
    with pytest.raises(Py4JJavaError):
        df.collect()


def test_detect_delimiter(tmp_path):
    """CsvFileReader delimiter_detection (:15,30)."""
    for sep, name in ((";", "semi.csv"), ("\t", "tabs.csv"), ("|", "pipe.csv")):
        p = tmp_path / name
        write_lines(p, [sep.join(["a", "b", "c"]), sep.join(["1", "2", "3"])])
        assert detect_delimiter(str(p)) == sep
    # commas inside values don't fool it when counts are inconsistent
    p = tmp_path / "mixed.csv"
    write_lines(p, ["a;b;c", "1,5;2;3", "9;8,1;7"])
    assert detect_delimiter(str(p)) == ";"


def test_xml_record_per_line(spark, tmp_path):
    """XmlFileReader record_per_line (the reference's DEFAULT via
    JacksonFileReader:35-43): one XML document per line, root unwrapped,
    typed via the declared schema."""
    p = tmp_path / "r.xml"
    write_lines(
        p,
        [
            f"<record><id>{i}</id><name>n{i}</name><score>{i}.5</score></record>"
            for i in range(10)
        ],
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    out = parse_xml_lines(read_lines(spark, work(str(p))), schema).orderBy("id").collect()
    assert len(out) == 10
    assert (out[3].id, out[3].name, out[3].score) == (3, "n3", 3.5)


def test_xml_record_per_line_through_engine_tail(spark, tmp_path):
    """Engine dispatch: fmt='xml' + record_per_line option routes through
    the offset-aware line scanner, so appended XML lines tail correctly."""
    from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine

    os.makedirs(tmp_path / "src")
    p = tmp_path / "src" / "t.xml"
    line = "<r><conv_id>c1</conv_id><turn_idx>{i}</turn_idx><role>u</role><text>t{i}</text><ts>2024-01-01 00:00:0{i}</ts></r>"
    write_lines(p, [line.format(i=0), line.format(i=1)])
    schema = T.StructType(
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
            checkpoint_root=str(tmp_path / "c"), fmt="xml", schema=schema,
            n_buckets=4, reader_options={"record_per_line": True},
        ),
    )
    assert eng.run_once().n_events == 2
    write_lines(p, [line.format(i=2)], mode="a")
    assert eng.run_once().n_events == 1  # only the appended tail
    got = {(r.conv_id, r.turn_idx): r.text for r in eng.lake.read().collect()}
    assert got == {("c1", 0): "t0", ("c1", 1): "t1", ("c1", 2): "t2"}


def test_csv_null_and_empty_value_tokens(spark, tmp_path):
    """nullValue / emptyValue passthrough (UnivocityFileReader null/empty
    token settings): a designated token parses as NULL, quoted-empty as
    the empty value."""
    p = tmp_path / "nv.csv"
    write_lines(p, ["a,b", "NA,x", "1,NA", '2,""'])
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    out = parse_csv(
        read_lines(spark, work(str(p))), schema, header=True,
        options={"nullValue": "NA", "emptyValue": "EMPTY"},
    ).orderBy("_src_offset").collect()
    assert out[0].a is None and out[0].b == "x"
    assert out[1].a == 1 and out[1].b is None
    assert out[2].a == 2 and out[2].b == "EMPTY"


def test_csv_max_columns_is_a_hard_guard(spark, tmp_path):
    """Univocity max_columns is a hard resource guard, not a malformed-row
    policy: exceeding it fails the parse even in PERMISSIVE mode (same
    underlying Univocity engine and semantics as the reference); rows
    within the limit parse fine."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    p = tmp_path / "wide.csv"
    write_lines(p, ["a,b", "1,2", "1,2," + ",".join(str(i) for i in range(30))])
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.IntegerType())]
    )
    df = parse_csv(
        read_lines(spark, work(str(p))), schema, header=True,
        options={"maxColumns": "10"},
    )
    with pytest.raises((Py4JJavaError, PySparkException)):
        df.collect()
    ok = parse_csv(
        read_lines(spark, work(str(p))), schema, header=True,
        options={"maxColumns": "64"},
    ).orderBy("_src_offset").collect()
    assert (ok[0].a, ok[0].b) == (1, 2)


def test_crlf_line_endings(spark, tmp_path):
    """Windows line endings: \\r is stripped from values, byte offsets stay
    exact (the \\r\\n is consumed)."""
    p = tmp_path / "crlf.csv"
    with open(p, "wb") as f:
        f.write(b"a,b\r\n1,2\r\n3,4\r\n")
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.IntegerType())]
    )
    rows = read_lines(spark, work(str(p))).orderBy("_src_offset").collect()
    assert [r.value for r in rows] == ["a,b", "1,2", "3,4"]
    assert rows[-1]._src_end == 15  # full file consumed incl. CRLFs
    out = parse_csv(read_lines(spark, work(str(p))), schema, header=True).collect()
    assert sorted((r.a, r.b) for r in out) == [(1, 2), (3, 4)]


def test_torn_line_across_split_boundary_not_skipped(spark, tmp_path):
    """A line that (a) straddles a split boundary and (b) grew past the
    listing snapshot must be held back by its OWNING split, and the next
    split's skip-ahead must not out-claim the hold-back with an OK outcome
    whose end jumps past the held-back bytes (the max consumed end is what
    the engine commits)."""
    p = tmp_path / "grow.txt"
    # on disk: "aaaa\n" + 14-byte torn tail (no newline, still growing)
    p.write_bytes(b"aaaa\nbbbbbbbbbbcccc")
    snap = 15  # listing-time snapshot, mid-tail
    items = [WorkItem(str(p), 0, snap)]
    # max_split_bytes=8 → splits [0,8) and [8,15); the tail straddles 8
    acc = outcome_accumulator(spark)
    out = read_lines(spark, items, max_split_bytes=8, outcomes=acc).collect()
    assert [r.value for r in out] == ["aaaa"]  # torn tail never emitted
    # committed offset = max consumed end must stay at the torn line's start
    assert max(o.consumed_end for o in acc.value) == 5
    kinds = sorted(o.kind for o in acc.value)
    assert RANGE_PARTIAL in kinds and RANGE_OK not in kinds
    # once the line is finished on disk and the snapshot covers it, the
    # resume from offset 5 yields it exactly once
    p.write_bytes(b"aaaa\nbbbbbbbbbbccccdd\n")
    tail = read_lines(spark, [WorkItem(str(p), 5, 22)], max_split_bytes=8).collect()
    assert [r.value for r in tail] == ["bbbbbbbbbbccccdd"]
    assert tail[0]._src_offset == 5 and tail[0]._src_end == 22


def test_csv_comment_before_header_still_drops_header(spark, tmp_path):
    """Univocity processes comments BEFORE header detection: a file whose
    first line is a comment must still have its header line skipped (the
    header is the first NON-comment line), and a resumed tail read must
    not lose its first data row."""
    p = tmp_path / "ch.csv"
    write_lines(p, ["# generated file", "a,b", "1,2", "# mid", "3,4"])
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.IntegerType())]
    )
    out = parse_csv(
        read_lines(spark, work(str(p))), schema, header=True, options={"comment": "#"}
    ).orderBy("_src_offset").collect()
    assert [(r.a, r.b) for r in out] == [(1, 2), (3, 4)]
    # resumed tail (scan not anchored at byte 0): nothing header-dropped
    off = out[0]._src_offset  # byte where "1,2" starts
    tail = parse_csv(
        read_lines(spark, work(str(p), start=off)),
        schema, header=True, options={"comment": "#"},
    ).orderBy("_src_offset").collect()
    assert [(r.a, r.b) for r in tail] == [(1, 2), (3, 4)]


def test_preamble_header_consumed_split_independently(spark, tmp_path):
    """rows_to_skip + header on a MULTI-SPLIT file: non-zero byte ranges
    number their lines from 0, so the header can only be consumed inside
    the scanner's range-0 scan — and must be, exactly once."""
    p = str(tmp_path / "big.csv")
    with open(p, "w") as f:
        f.write("legacy exporter preamble\n")
        f.write("# a comment before the header\n")
        f.write("conv_id,turn_idx\n")
        for i in range(2000):
            f.write(f"c{i},{i}\n")
    size = os.path.getsize(p)
    lines = read_lines(
        spark,
        [WorkItem(p, 0, size)],
        max_split_bytes=512,  # many splits
        rows_to_skip=1,
        skip_header_line=True,
        comment_prefix="#",
    )
    vals = [r.value for r in lines.orderBy("_src_offset").collect()]
    assert len(vals) == 2000
    assert vals[0] == "c0,0" and "conv_id" not in vals[0]
    assert all(not v.startswith(("legacy", "#", "conv_id")) for v in vals)
    # offsets contiguous: first emitted line starts right after the header
    first_off = lines.agg(F.min("_src_offset")).first()[0]
    assert first_off == len("legacy exporter preamble\n# a comment before the header\nconv_id,turn_idx\n")


def test_read_lines_rejects_incompatible_encoding(spark, tmp_path):
    p = str(tmp_path / "x.txt")
    write_lines(p, ["ab", "cd"])
    with pytest.raises(ValueError, match="newline-byte-compatible"):
        read_lines(spark, [WorkItem(p, 0, os.path.getsize(p))], encoding="utf-16")


def test_single_trailing_cr_stripped_only(spark, tmp_path):
    p = str(tmp_path / "cr.txt")
    with open(p, "wb") as f:
        f.write(b"payload\r\r\nplain\r\nnone\n")
    lines = read_lines(spark, [WorkItem(p, 0, os.path.getsize(p))])
    vals = [r.value for r in lines.orderBy("_src_offset").collect()]
    assert vals == ["payload\r", "plain", "none"]


def test_native_src_file_matches_listing_path_with_special_chars(spark, tmp_path):
    """input_file_name percent-encodes; _src_file must come back as the
    raw listing path or LWW tie-breaks compare unequal strings."""
    import json as _json

    d = tmp_path / "odd dir"
    os.makedirs(d)
    p = str(d / "my file+100%.jsonl")
    with open(p, "w") as f:
        f.write(_json.dumps({"a": 1}) + "\n")
    from kafka_connect_fs_spark.sources.readers import read_line_format_native

    df = read_line_format_native(spark, [WorkItem(p, 0, os.path.getsize(p))], "jsonl", None, None)
    assert df.select("_src_file").first()[0] == p


def test_avro_poison_container_skipped(spark, tmp_path):
    from kafka_connect_fs_spark.sources.avro_io import write_container
    from kafka_connect_fs_spark.sources.readers import read_avro_python

    sch = {"type": "record", "name": "R", "fields": [{"name": "x", "type": "long"}]}
    good = str(tmp_path / "good.avro")
    write_container(good, sch, [{"x": 1}, {"x": 2}])
    bad = str(tmp_path / "bad.avro")
    with open(bad, "wb") as f:
        f.write(b"Obj\x01garbage-not-a-container")
    items = [WorkItem(p, 0, os.path.getsize(p)) for p in (good, bad)]
    got = read_avro_python(spark, items)
    assert sorted(r.x for r in got.collect()) == [1, 2]  # bad skipped, not fatal


def test_whole_file_vanished_is_skipped_not_fatal(spark, tmp_path):
    keep = str(tmp_path / "keep.yaml")
    with open(keep, "w") as f:
        f.write("a: 1\n")
    gone = str(tmp_path / "gone.yaml")
    items = [
        WorkItem(keep, 0, os.path.getsize(keep)),
        WorkItem(gone, 0, 10),  # listed, then vanished before read
    ]
    schema = T.StructType.fromDDL("a long")
    rows = read_whole_file_records(spark, items, "yaml", schema).collect()
    assert [r._src_file for r in rows] == [keep]


def test_scan_packs_ranges_into_host_sized_tasks(spark, tmp_path):
    """Many small ranges scan in at most defaultParallelism Python tasks,
    and an unreadable range reports FAILED at its start instead of failing
    the scan."""
    items = []
    for i in range(12):
        p = tmp_path / f"f{i}.txt"
        write_lines(p, [f"{i}-{j}" for j in range(i + 1)])
        items.append(WorkItem(str(p), 0, os.path.getsize(p)))
    gone = str(tmp_path / "gone.txt")
    items.append(WorkItem(gone, 3, 100))
    acc = outcome_accumulator(spark)
    df = read_lines(spark, items, outcomes=acc)
    assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert df.count() == sum(range(1, 13))
    by_path = {o.path: o for o in acc.value}
    assert by_path.pop(gone) == (gone, 3, 3, RANGE_FAILED, 0)
    assert all(o.kind == RANGE_OK for o in by_path.values())
    assert sum(o.records for o in by_path.values()) == sum(range(1, 13))


def test_python_readers_run_one_python_stage_without_shuffle(spark, tmp_path):
    """Avro, COBOL and whole-file YAML reads each plan exactly one Python
    stage and no Exchange: each task opens its own files (no work-list
    DataFrame to shuffle), and whole-file records parse in the stage that
    reads them."""
    from kafka_connect_fs_spark.sources.avro_io import write_container
    from kafka_connect_fs_spark.sources.cobol import read_cobol
    from kafka_connect_fs_spark.sources.readers import read_avro_python

    avro_schema = {"type": "record", "name": "R", "fields": [{"name": "x", "type": "long"}]}
    avro, cobol, yaml = [], [], []
    for i in range(3):
        p = str(tmp_path / f"a{i}.avro")
        write_container(p, avro_schema, [{"x": i}])
        avro.append(WorkItem(p, 0, os.path.getsize(p)))
        p = tmp_path / f"c{i}.dt"
        p.write_bytes(b"AAAABBBB")
        cobol.append(WorkItem(str(p), 0, 8))
        p = tmp_path / f"y{i}.yaml"
        p.write_text(f"a: {i}\n")
        yaml.append(WorkItem(str(p), 0, os.path.getsize(p)))
    reads = {
        "avro": (read_avro_python(spark, avro), 3),
        "cobol": (
            read_cobol(spark, cobol, {"copybook_content": "01 X PIC X(4).",
                                      "is_ebcdic": False, "schema_policy": "collapse_root"}),
            6,
        ),
        "yaml": (read_whole_file_records(spark, yaml, "yaml", T.StructType.fromDDL("a long")), 3),
    }
    for name, (df, n) in reads.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, (name, plan)
        assert "Exchange" not in plan, (name, plan)
        assert df.count() == n, name


def test_large_scan_keeps_one_task_per_split(spark, tmp_path):
    """Packing only saves worker start-up on small ranges: a scan of more
    splits than defaultParallelism keeps one task per split, so one large
    file still spreads over every core and a retry re-scans one split."""
    p = tmp_path / "big.txt"
    write_lines(p, [f"line-{i:04d}" for i in range(1000)])
    size = os.path.getsize(p)
    dp = spark.sparkContext.defaultParallelism
    split = size // (2 * dp) + 1
    n_splits = -(-size // split)
    assert n_splits > dp
    acc = outcome_accumulator(spark)
    df = read_lines(spark, [WorkItem(str(p), 0, size)], max_split_bytes=split,
                    outcomes=acc)
    assert df.rdd.getNumPartitions() == n_splits
    assert df.count() == 1000
    assert len(acc.value) == n_splits
    assert all(o.kind == RANGE_OK for o in acc.value)
    assert max(o.consumed_end for o in acc.value) == size


def test_pack_balances_bins_largest_first():
    from kafka_connect_fs_spark.sources.readers import _pack

    bins = _pack([10, 9, 1, 1, 1, 4], 2)
    assert sorted(i for b in bins for i in b) == list(range(6))
    loads = sorted(sum([10, 9, 1, 1, 1, 4][i] for i in b) for b in bins)
    assert loads == [13, 13]
    assert len(_pack([5, 5], 8)) == 2  # never more bins than items


def _drain_range(path, snap, range_start, range_end):
    """Run one ``_scan_one_range`` on the driver: (values, offsets, outcome)."""
    from kafka_connect_fs_spark.sources.readers import _scan_one_range

    gen = _scan_one_range(path, 0, snap, range_start, range_end, "utf-8", False, 10_000)
    values, offsets = [], []
    while True:
        try:
            pdf = next(gen)
        except StopIteration as stop:
            return values, offsets, stop.value
        values += list(pdf["value"])
        offsets += list(pdf["_src_offset"])


def test_remote_path_scans_like_local(tmp_path, monkeypatch):
    """A remote path opens a pyarrow file, which has no readline() of its
    own: the scanner must still skip into a later split and finish a
    straddling or torn last line exactly as on a local path. Otherwise a
    remote file larger than one split, or ending in a torn line, never
    advances. The s3:// client is a pyarrow SubTreeFileSystem over
    ``tmp_path``, so the bucket's keys are local files."""
    import pyarrow.fs as pafs

    from kafka_connect_fs_spark.sources import discovery

    local = tmp_path / "bucket" / "a.jsonl"
    local.parent.mkdir()
    local.write_bytes(b"".join(b'{"i": %d}\n' % i for i in range(100)) + b'{"i": 1')
    snap = local.stat().st_size
    ranges = [(0, snap), (0, snap // 2), (snap // 2, snap)]

    def scans(path):
        out = []
        for start, end in ranges:
            values, offsets, o = _drain_range(path, snap, start, end)
            out.append((values, offsets, o.range_start, o.consumed_end, o.kind, o.records))
        return out

    want = scans(str(local))

    class _S3:
        @staticmethod
        def from_uri(uri):
            assert uri.startswith("s3://bucket/"), uri
            return pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem()), uri[len("s3://"):]

    monkeypatch.setattr(pafs, "FileSystem", _S3)
    monkeypatch.setattr(discovery, "_REMOTE", {}, raising=False)
    assert scans("s3://bucket/a.jsonl") == want
    whole, first, later = want
    assert len(whole[0]) == 100 and whole[4] == RANGE_PARTIAL  # torn tail held back
    assert first[0] + later[0] == whole[0] and later[0]
