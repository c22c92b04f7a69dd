"""Paired Spark queries + DuckDB oracle SQL — the driver correctness gate.

Each entry couples a Spark DataFrame plan (the engine's operators) with an
ANSI-SQL twin that DuckDB runs on the same parquet; the driver hash-compares
them at sf=0.01. Conventions that keep the hashes stable across engines:

- every computed column is aliased identically on both sides;
- doubles are round(…, 4) after identical arithmetic (both engines do the
  sums in double precision; cross-engine drift ~1e-13 « rounding grain);
- timestamps leave as formatted strings (no tz-representation skew);
- all hash functions are md5 over identical strings (hex compares equal);
- every top-k/window has a deterministic total tie-break order.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_connect_fs_spark.functions import dedup as D
from kafka_connect_fs_spark.functions import sampling as SP
from kafka_connect_fs_spark.functions import multimodal as M
from kafka_connect_fs_spark.functions import similarity as S
from kafka_connect_fs_spark.functions import text as TX
from kafka_connect_fs_spark.operators.lww import lww_dedup


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events_slice(sf_dir: str, columns: list[str], max_id: int = 2000) -> list[dict]:
    """Driver-side pyarrow read of the bounded events slice the
    file-synthesis queries encode (event_id < max_id). The synthesis is
    setup, not the measured scan path, and a full Spark job (plus its
    per-query codegen) per synthesis collect() was the dominant fixed
    cost of the avro/cobol round-trip queries — a pushed-down pyarrow
    read of the same slice returns identical values in milliseconds."""
    import pyarrow.dataset as ds

    path = os.path.join(sf_dir, "events.parquet")
    tbl = ds.dataset(path, format="parquet").to_table(
        columns=columns, filter=ds.field("event_id") < max_id
    )
    return tbl.to_pylist()


def _round_half_up_bp(value: float) -> int:
    """Spark's round(value * 10000) for doubles, exactly: HALF_UP on the
    shortest-round-trip decimal repr (java BigDecimal.valueOf ==
    python repr — both emit the unique shortest digits), after the SAME
    double multiply. Verified against F.round over 20k random + boundary
    doubles: bit-identical within long range."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(value * 10000)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
    )


TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# --------------------------------------------------------------------------
# CDC / ingest semantics (SURVEY.md §2.2, §2.6-2.7: LWW resolve, keep-latest)
# --------------------------------------------------------------------------


def q_cdc_lww_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final state of replaying `events` as upserts keyed (user_id,
    event_type), LWW on (ts, event_id) — the MERGE resolver on raw events."""
    e = t(spark, sf_dir, "events")
    order = F.struct("ts", "event_id")
    return (
        e.groupBy("user_id", "event_type")
        .agg(
            F.round(F.max_by("value", order), 4).alias("last_value"),
            F.max_by("event_id", order).alias("last_event_id"),
            F.count(F.lit(1)).alias("n_changes"),
            F.date_format(F.max("ts"), TS_FMT_SPARK).alias("last_ts"),
        )
    )


SQL_CDC_LWW_LATEST = f"""
WITH ranked AS (
  SELECT user_id, event_type, value, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*)  OVER (PARTITION BY user_id, event_type) AS n_changes,
         max(ts)   OVER (PARTITION BY user_id, event_type) AS max_ts
  FROM events)
SELECT user_id, event_type,
       round(value, 4) AS last_value,
       event_id AS last_event_id,
       n_changes,
       strftime(max_ts, '{TS_FMT_DUCK}') AS last_ts
FROM ranked WHERE rn = 1
"""


def q_cdc_changes_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hottest keys by change volume — the skew profile a MERGE must absorb."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_changes"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy(F.desc("n_changes"), F.asc("user_id"))
        .limit(20)
    )


SQL_CDC_CHANGES_TOPK = """
SELECT user_id, count(*) AS n_changes, round(sum(value), 4) AS sum_value
FROM events GROUP BY user_id
ORDER BY n_changes DESC, user_id ASC LIMIT 20
"""


def _transcript_events(e: DataFrame) -> DataFrame:
    role = (
        F.when(F.col("event_type").isin("click", "view"), "user")
        .when(F.col("event_type").isin("purchase", "signup"), "assistant")
        .otherwise("tool")
    )
    return e.select(
        F.concat(F.lit("conv_"), F.lpad(F.col("user_id").cast("string"), 6, "0")).alias("conv_id"),
        (F.col("event_id") % 20).cast("int").alias("turn_idx"),
        role.alias("role"),
        F.col("props").alias("text"),
        F.col("ts"),
        F.col("event_id"),
    )


def q_transcript_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcript synthesis from `events` + LWW per
    (conv_id, turn_idx) — the engine's merge semantics as a pure query,
    using the production lww_dedup operator."""
    ev = _transcript_events(t(spark, sf_dir, "events"))
    final = lww_dedup(ev, ["conv_id", "turn_idx"], ts_col="ts", tiebreak=("event_id",))
    return final.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.date_format("ts", TS_FMT_SPARK).alias("last_ts"),
    )


SQL_TRANSCRIPT_SYNTH = """
  SELECT 'conv_' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
         CAST(event_id % 20 AS INTEGER) AS turn_idx,
         CASE WHEN event_type IN ('click','view') THEN 'user'
              WHEN event_type IN ('purchase','signup') THEN 'assistant'
              ELSE 'tool' END AS role,
         props AS text, ts, event_id
  FROM events
"""

SQL_TRANSCRIPT_FINAL_STATE = f"""
WITH ev AS ({SQL_TRANSCRIPT_SYNTH}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev)
SELECT conv_id, turn_idx, role, text,
       strftime(ts, '{TS_FMT_DUCK}') AS last_ts
FROM ranked WHERE rn = 1
"""


def q_ingest_e2e_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship: the full CDC pipeline — synthesize transcript change-
    event JSONL files from `events`, run IngestEngine (discovery →
    watermarks → vectorized parse → LWW MERGE → lake), return the final
    table. Must equal the pure-SQL oracle SQL_TRANSCRIPT_FINAL_STATE."""
    import atexit
    import shutil
    import tempfile

    from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine
    from kafka_connect_fs_spark.testing.generator import CHANGE_EVENT_SCHEMA

    # the lake dir must outlive this function: the returned DataFrame is
    # LAZY (pulling the final table through the driver with collect() would
    # be a scale anti-pattern), so cleanup happens at process exit instead
    base = tempfile.mkdtemp(prefix="kcfs_e2e_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    src = os.path.join(base, "src")
    os.makedirs(src)
    # distributed file synthesis: range-partition + sort by event_id so
    # the lexicographic (src_file, src_offset) order equals event_id
    # order — keeping the engine's LWW tie-break aligned with the
    # oracle's ORDER BY ts DESC, event_id DESC
    ev = _transcript_events(t(spark, sf_dir, "events"))
    jsonl = ev.select(
        F.lit("upsert").alias("op"),
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
        "event_id",
    )
    (
        # 16 range partitions: the synth write AND the engine's scan both
        # parallelize 4× vs the former 4-file layout; ranges ascend with
        # the part-file index, so lexicographic (src_file, src_offset)
        # still equals event_id order and the LWW tie-break is unchanged
        jsonl.repartitionByRange(16, "event_id")
        .sortWithinPartitions("event_id")
        .drop("event_id")
        .write.mode("overwrite")
        .json(src)
    )
    engine = IngestEngine(
        spark,
        IngestConfig(
            uris=[src],
            table_root=os.path.join(base, "table"),
            checkpoint_root=os.path.join(base, "ckpt"),
            fmt="jsonl",
            schema=CHANGE_EVENT_SCHEMA,
            n_buckets=16,
        ),
    )
    engine.run_once()
    return engine.lake.read().select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.date_format("ts", TS_FMT_SPARK).alias("last_ts"),
    )


_LAKE_CACHE: dict[str, str] = {}  # sf_dir -> built lake root (process-lifetime)


def _transcript_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript events projected to the lake's merge shape.
    ``_src_offset`` carries event_id so the lake's LWW tie-break equals
    the oracles' ORDER BY ts DESC, event_id DESC; `event_id` rides along
    for batch splitting and is dropped before merge."""
    ev = _transcript_events(t(spark, sf_dir, "events"))
    return ev.select(
        "conv_id", "turn_idx", "role", "text",
        F.col("ts").cast("timestamp").alias("ts"),
        F.lit("").alias("_src_file"),
        F.col("event_id").alias("_src_offset"),
        "event_id",
    )


def _cached_lake(spark: SparkSession, sf_dir: str, cache: dict, prefix: str, build):
    """Process-lifetime cached MoR lake: build once per sf_dir via
    ``build(lake, src)``, reopen from the cached tmpdir afterwards."""
    import atexit
    import shutil
    import tempfile

    from kafka_connect_fs_spark.plans.lake import LakeTable

    # defend against a caller session configured with legacy INT96 parquet
    # timestamps (no footer stats → file pruning degrades); runtime-settable
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    cached = cache.get(sf_dir)
    if cached is not None and LakeTable.exists(os.path.join(cached, "t")):
        return LakeTable(spark, os.path.join(cached, "t"))
    base = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    lake = LakeTable.create(
        spark, os.path.join(base, "t"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=8,
    )
    build(lake, _transcript_src(spark, sf_dir))
    cache[sf_dir] = base
    return lake


def _build_split_lake(spark: SparkSession, sf_dir: str):
    """Two-batch MoR lake from transcript events, split at Jan 16 (mid-span
    of the generated month): batch 1 = earlier half, batch 2 = later half
    carrying an extra `quality` column (schema evolution). Built once per
    process per sf_dir — the lake queries (temporal pruning, evolution,
    time travel, CDF) share it."""

    def build(lake, src):
        cut = LAKE_CUT_TS
        early = src.where(F.col("ts") < cut).drop("event_id")
        late = src.where(F.col("ts") >= cut).withColumn(
            "quality", (F.col("event_id") % 100).cast("int")
        )
        lake.merge(early, "b1")
        lake.merge(late.drop("event_id"), "b2")

    return _cached_lake(spark, sf_dir, _LAKE_CACHE, "kcfs_lake_q_", build)


LAKE_CUT_TS = __import__("datetime").datetime(2024, 1, 16)


def q_lake_read_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal manifest-stat pruning end-to-end: a MoR lake written in two
    event-time batches, then read_range over the later window. The commit
    log's per-file [ts_min, ts_max] footer stats must actually PRUNE the
    early-batch files (asserted — this query fails if pruning degrades to
    read-everything), and the resolved in-window state must match SQL."""
    lake = _build_split_lake(spark, sf_dir)
    pruned = lake.files_in_range(ts_from=LAKE_CUT_TS)
    live, _, _ = lake._state()
    assert 0 < len(pruned) < len(live), (len(pruned), len(live))
    return lake.read_range(ts_from=LAKE_CUT_TS).select(
        "conv_id", "turn_idx", "role", "text",
        F.date_format("ts", TS_FMT_SPARK).alias("last_ts"),
    )


SQL_LAKE_READ_RANGE = f"""
WITH ev AS ({SQL_TRANSCRIPT_SYNTH}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev WHERE ts >= TIMESTAMP '2024-01-16 00:00:00')
SELECT conv_id, turn_idx, role, text,
       strftime(ts, '{TS_FMT_DUCK}') AS last_ts
FROM ranked WHERE rn = 1
"""


def q_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation / time travel: read the table AS OF the first
    batch's commit version — the second batch (later events + the added
    `quality` column) must be invisible, so the result equals LWW over
    the early-half events only. The Iceberg snapshot-id / Delta
    versionAsOf read analog (plans/lake.py read(at_version): commit-log
    replay stops at the requested version)."""
    lake = _build_split_lake(spark, sf_dir)
    v1 = lake.get_commit_by_batch_id("b1").version
    assert lake.latest_version() > v1  # later commits exist and are skipped
    assert "quality" not in [
        f.name for f in lake.read(at_version=v1).schema.fields
    ]  # pre-evolution schema served as-of v1
    return lake.read(at_version=v1).select(
        "conv_id", "turn_idx", "role", "text",
        F.date_format("ts", TS_FMT_SPARK).alias("last_ts"),
    )


SQL_LAKE_TIME_TRAVEL = f"""
WITH ev AS ({SQL_TRANSCRIPT_SYNTH}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev WHERE ts < TIMESTAMP '2024-01-16 00:00:00')
SELECT conv_id, turn_idx, role, text,
       strftime(ts, '{TS_FMT_DUCK}') AS last_ts
FROM ranked WHERE rn = 1
"""


def q_lake_cdf_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed: the change rows committed AFTER batch 1 — a
    downstream consumer tails THIS table the way the engine tails files
    (plans/lake.py read_changes; Delta CDF / Iceberg incremental-read
    analog). In MoR mode this is metadata-only: batch 2's delta files ARE
    its change batch, so the result is exactly the late-half upserts (raw
    changes, NOT LWW-resolved) with their op and batch lineage."""
    lake = _build_split_lake(spark, sf_dir)
    v1 = lake.get_commit_by_batch_id("b1").version
    ch = lake.read_changes(from_version=v1)
    return ch.select(
        "conv_id", "turn_idx", "role", "text", "quality", "op",
        F.col("_batch_id").alias("batch_id"),
        F.date_format("ts", TS_FMT_SPARK).alias("ev_ts"),
    )


SQL_LAKE_CDF_CHANGES = f"""
WITH ev AS ({SQL_TRANSCRIPT_SYNTH})
SELECT conv_id, turn_idx, role, text,
       CAST(event_id % 100 AS INTEGER) AS quality,
       'upsert' AS op, 'b2' AS batch_id,
       strftime(ts, '{TS_FMT_DUCK}') AS ev_ts
FROM ev WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
"""


_DELETE_LAKE_CACHE: dict[str, str] = {}


def q_cdc_deletes_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op='delete' tombstones through MERGE: batch 1 upserts every
    transcript event (LWW), batch 2 deletes the keys touched by events
    with event_id % 37 == 0 at a LATER ts — the tombstone must win LWW
    and remove the key from read() (plans/lake.py tombstoned deletes;
    ref parity: a CDC stream's delete ops must erase, not linger)."""
    def build(lake, src):
        lake.merge(src.drop("event_id"), "b1")
        deletes = (
            src.where(F.col("event_id") % 37 == 0)
            .select("conv_id", "turn_idx")
            .distinct()
            .select(
                F.lit("delete").alias("op"),
                "conv_id", "turn_idx",
                F.lit(None).cast("string").alias("role"),
                F.lit(None).cast("string").alias("text"),
                # after the whole generated month: the tombstone wins LWW
                F.lit("2024-03-01 00:00:00").cast("timestamp").alias("ts"),
                F.lit("").alias("_src_file"),
                F.lit(0).cast("long").alias("_src_offset"),
            )
        )
        lake.merge(deletes, "b2")

    lake = _cached_lake(spark, sf_dir, _DELETE_LAKE_CACHE, "kcfs_lake_del_", build)
    return lake.read().select(
        "conv_id", "turn_idx", "text",
        F.date_format("ts", TS_FMT_SPARK).alias("last_ts"),
    )


SQL_CDC_DELETES_APPLIED = f"""
WITH ev AS ({SQL_TRANSCRIPT_SYNTH}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev),
del_keys AS (
  SELECT DISTINCT conv_id, turn_idx FROM ev WHERE event_id % 37 = 0)
SELECT r.conv_id, r.turn_idx, r.text,
       strftime(r.ts, '{TS_FMT_DUCK}') AS last_ts
FROM ranked r
WHERE r.rn = 1
  AND NOT EXISTS (SELECT 1 FROM del_keys d
                  WHERE d.conv_id = r.conv_id AND d.turn_idx = r.turn_idx)
"""


def q_lake_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned point lookup: read_key opens ONLY the files of the
    bucket the key hashes to (driver-side xxhash64 twin, no Spark job) —
    O(table/n_buckets) I/O. The query asserts pruning actually happened
    and returns the LWW-resolved turns of one conversation; the oracle
    recomputes that conversation from the raw events."""
    lake = _build_split_lake(spark, sf_dir)
    # deterministic existing key: lowest conv_id in the events table
    ev = _transcript_events(t(spark, sf_dir, "events"))
    key = ev.agg(F.min("conv_id")).collect()[0][0]
    live, _, _ = lake._state()
    df = lake.read_key(key)
    opened = df.inputFiles()
    assert 0 < len(opened) < len(live), (len(opened), len(live))  # pruned
    # read_key already filters to exactly this key (lake.py read_key)
    return df.select(
        "conv_id", "turn_idx", "role", "text",
        F.date_format("ts", TS_FMT_SPARK).alias("last_ts"),
    )


SQL_LAKE_POINT_LOOKUP = f"""
WITH ev AS ({SQL_TRANSCRIPT_SYNTH}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev)
SELECT conv_id, turn_idx, role, text,
       strftime(ts, '{TS_FMT_DUCK}') AS last_ts
FROM ranked
WHERE rn = 1 AND conv_id = (SELECT min(conv_id) FROM ev)
"""


def q_lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-add schema evolution through MERGE: batch 2 carries a new
    `quality` column; the evolved table serves old rows with NULL and new
    rows with the value, LWW-resolved across both generations."""
    lake = _build_split_lake(spark, sf_dir)
    assert "quality" in [f.name for f in lake.current_schema().fields]
    return lake.read().select(
        "conv_id", "turn_idx", "text", "quality",
        F.date_format("ts", TS_FMT_SPARK).alias("last_ts"),
    )


SQL_LAKE_SCHEMA_EVOLUTION = f"""
WITH ev AS ({SQL_TRANSCRIPT_SYNTH}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev)
SELECT conv_id, turn_idx, text,
       CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
            THEN CAST(event_id % 100 AS INTEGER) ELSE NULL END AS quality,
       strftime(ts, '{TS_FMT_DUCK}') AS last_ts
FROM ranked WHERE rn = 1
"""


_REBUCKET_CACHE: dict[str, str] = {}


def q_lake_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-spec evolution end-to-end (plans/lake.py set_n_buckets — the
    Iceberg partition-spec-evolution analog): merge the early event half
    under the create-time 8-bucket spec, evolve to 13 buckets with a
    METADATA-ONLY commit, merge the later half under the new spec (old
    files stay valid under their per-file recorded scheme), then compact —
    which lazily migrates every old-scheme file to the current spec. The
    final state must equal plain LWW over ALL events: the rebucket changed
    physical layout only, never content. In-query assertions pin that both
    schemes coexisted before the compaction and only the new one survives
    it — the operational lever for growing n_buckets ≫ cores at
    10^10-event scale without a stop-the-world table rewrite."""

    def build(lake, src):
        cut = LAKE_CUT_TS
        lake.merge(src.where(F.col("ts") < cut).drop("event_id"), "b1")
        lake.set_n_buckets(13)
        lake.merge(src.where(F.col("ts") >= cut).drop("event_id"), "b2")
        live, _, _ = lake._state()
        schemes = {a.get("scheme") for a in live.values()}
        assert schemes == {8, 13}, schemes  # both specs live pre-migration
        lake.compact(min_files_per_bucket=99)  # migration-only threshold

    lake = _cached_lake(spark, sf_dir, _REBUCKET_CACHE, "kcfs_rebucket_q_", build)
    live, _, _ = lake._state()
    assert {a.get("scheme") for a in live.values()} == {13}  # fully migrated
    return lake.read().select(
        "conv_id", "turn_idx", "role", "text",
        F.date_format("ts", TS_FMT_SPARK).alias("last_ts"),
    )


def q_mv_role_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized view grouped by a PAYLOAD column — (conv_id, role):
    the general IVM case where an upsert can move a row between groups.
    Touched groups derive from touched bucket keys plus the MV's own
    previous groups (plans/materialized.py), never from the change rows'
    new values; built at batch 1, incrementally absorbs batch 2 (whose
    turn rewrites DO move rows across role groups), must equal a
    from-scratch (conv, role) rollup of the final LWW state."""
    import atexit
    import shutil
    import tempfile

    from kafka_connect_fs_spark.plans.materialized import IncrementalRollup

    lake = _build_split_lake(spark, sf_dir)
    v1 = lake.get_commit_by_batch_id("b1").version
    base = tempfile.mkdtemp(prefix="kcfs_mvr_q_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    mv = IncrementalRollup(
        lake,
        os.path.join(base, "mv"),
        group_cols=["conv_id", "role"],
        aggs={
            "n_turns": F.count(F.lit(1)),
            "total_chars": F.sum(F.length("text")),
        },
        n_buckets=8,
    )
    mv.refresh(to_version=v1)
    st = mv.refresh()
    assert st.partial and st.from_version == v1, st
    return mv.read().select("conv_id", "role", "n_turns", "total_chars")


SQL_MV_ROLE_ROLLUP = f"""
WITH ev AS ({SQL_TRANSCRIPT_SYNTH}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev)
SELECT conv_id, role,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM ranked WHERE rn = 1
GROUP BY conv_id, role
"""


_RETENTION_LAKE_CACHE: dict[str, str] = {}


def q_retention_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate delete (plans/lake.py delete_where — the Iceberg DELETE
    FROM analog, here the transcript compliance op): upsert every event,
    then erase all turns whose CURRENT winning row has role='tool'. The
    tombstones carry the matched rows' own ts + 1µs, so they win LWW
    against exactly the point-in-time state they targeted; the oracle is
    the plain final state minus tool-role winners."""

    def build(lake, src):
        lake.merge(src.drop("event_id"), "b1")
        c = lake.delete_where(F.col("role") == "tool", batch_id="purge-tools")
        assert c.metrics["rows_written"] > 0

    lake = _cached_lake(
        spark, sf_dir, _RETENTION_LAKE_CACHE, "kcfs_lake_ret_", build
    )
    return lake.read().select(
        "conv_id", "turn_idx", "role", "text",
        F.date_format("ts", TS_FMT_SPARK).alias("last_ts"),
    )


SQL_RETENTION_DELETE_WHERE = f"""
WITH ev AS ({SQL_TRANSCRIPT_SYNTH}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev)
SELECT conv_id, turn_idx, role, text,
       strftime(ts, '{TS_FMT_DUCK}') AS last_ts
FROM ranked WHERE rn = 1 AND role <> 'tool'
"""


def q_mv_conv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized view over the CDF
    (plans/materialized.py — the CDC downstream the reference's users
    wire up by hand in Kafka Streams; here one class over read_changes):
    a per-conversation rollup built at batch 1's version, then brought to
    head by absorbing ONLY batch 2's change window via partial recompute
    of the touched groups. The in-query assertion pins that the catch-up
    really ran incrementally (partial path, non-initial), and the result
    must equal a from-scratch rollup of the final LWW state — the IVM
    correctness invariant, checked against DuckDB."""
    import atexit
    import shutil
    import tempfile

    from kafka_connect_fs_spark.plans.materialized import IncrementalRollup

    lake = _build_split_lake(spark, sf_dir)
    v1 = lake.get_commit_by_batch_id("b1").version
    base = tempfile.mkdtemp(prefix="kcfs_mv_q_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    mv = IncrementalRollup(
        lake,
        os.path.join(base, "mv"),
        group_cols=["conv_id"],
        aggs={
            "n_turns": F.count(F.lit(1)),
            "total_chars": F.sum(F.length("text")),
            "last_ts": F.max("ts"),
        },
        n_buckets=8,
    )
    st1 = mv.refresh(to_version=v1)  # initial build as of batch 1
    st2 = mv.refresh()  # incremental: absorb batch 2's change window only
    assert not st1.partial and st2.partial and st2.from_version == v1, (st1, st2)
    assert mv.lag() == 0
    return mv.read().select(
        "conv_id",
        "n_turns",
        "total_chars",
        F.date_format("last_ts", TS_FMT_SPARK).alias("last_ts"),
    )


SQL_MV_CONV_ROLLUP = f"""
WITH ev AS ({SQL_TRANSCRIPT_SYNTH}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       strftime(max(ts), '{TS_FMT_DUCK}') AS last_ts
FROM ranked WHERE rn = 1
GROUP BY conv_id
"""


# --------------------------------------------------------------------------
# Relational coverage (joins/aggs/windows — Catalyst-native, bench anchors)
# --------------------------------------------------------------------------


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SQL_Q3 = """
SELECT l_orderkey, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def q_region_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join rollup with explicit broadcast of the dimension chain —
    the 100 TB plan shape: no shuffle on the fact side until the final agg."""
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    dims = F.broadcast(
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "r_name")
    )
    return (
        l.join(dims, l.l_suppkey == dims.s_suppkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_REGION_ROLLUP = """
SELECT r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


SQL_WINDOW_RUNNING = """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
       AS running_value
FROM events
"""


def q_topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


SQL_TOPK_ORDERS = """
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders)
SELECT o_orderpriority, rank, o_orderkey, round(o_totalprice, 2) AS total_price
FROM ranked WHERE rank <= 3
"""


def q_q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + agg — pushdown-friendly single pass."""
    l = t(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


def q_distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_DISTINCT_USERS = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type
"""


def q_set_ops_clicked_never_purchased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations coverage (SURVEY §2.7): EXCEPT over (user, day) sets —
    days a user clicked but bought nothing."""
    e = t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    clicked = e.where(F.col("event_type") == "click").select("user_id", day).distinct()
    purchased = e.where(F.col("event_type") == "purchase").select("user_id", day).distinct()
    return clicked.exceptAll(purchased)


SQL_SET_OPS = """
SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
FROM events WHERE event_type = 'click'
EXCEPT
SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
FROM events WHERE event_type = 'purchase'
"""


def q_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join — operators/asof.py, an operator Spark
    lacks natively: for every click, the user's most recent prior-or-
    same-instant purchase. Union + ordered window (ONE key shuffle, no
    range self-join); oracle is DuckDB's native ASOF LEFT JOIN. Purchases
    dedup to one per (user, ts) keeping the max event_id so both engines
    see a deterministic right side."""
    from kafka_connect_fs_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("purchase_id"),
            F.max_by("value", "event_id").alias("purchase_value"),
        )
    )
    out = asof_join(clicks, purchases, on=["user_id"], left_ts="ts")
    return out.select(
        "user_id",
        "click_id",
        F.date_format("ts", TS_FMT_SPARK).alias("click_ts"),
        F.col("asof_purchase_id").alias("purchase_id"),
        F.col("asof_purchase_value").alias("purchase_value"),
    )


SQL_ASOF_CLICK_PURCHASE = f"""
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts
  FROM events WHERE event_type = 'click'),
purchases AS (
  SELECT user_id, ts, max(event_id) AS purchase_id,
         arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT c.user_id, c.click_id, strftime(c.ts, '{TS_FMT_DUCK}') AS click_ts,
       p.purchase_id, p.purchase_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join — operators/rangejoin.py: clicks landing in
    the hour before a same-user purchase (attribution). Binned
    explode + equi-join on (user, hour-bin) + exact refine — the plan
    stays a hash join (the raw inequality condition would be a
    BroadcastNestedLoopJoin, O(|L|x|R|) per key). Oracle: the plain
    inequality join DuckDB evaluates exactly."""
    from kafka_connect_fs_spark.operators.rangejoin import interval_join

    e = t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("win_start"),
        F.col("ts").alias("win_end"),
    )
    out = interval_join(
        clicks, purchases, on=["user_id"],
        left_point="ts", right_start="win_start", right_end="win_end",
        bin_seconds=3600,
    )
    return out.select(
        "user_id", "click_id", "purchase_id",
        F.date_format("ts", TS_FMT_SPARK).alias("click_ts"),
        F.date_format("win_end", TS_FMT_SPARK).alias("purchase_ts"),
    )


SQL_RANGE_JOIN_ATTRIBUTION = f"""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       strftime(c.ts, '{TS_FMT_DUCK}') AS click_ts,
       strftime(p.ts, '{TS_FMT_DUCK}') AS purchase_ts
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
"""


# --------------------------------------------------------------------------
# Training-data pipeline ops (dedup / similarity / text / multimodal)
# --------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text)
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(t(spark, sf_dir, "documents"))


SQL_DEDUP_MINHASH = """
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
  WHERE length(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) > 0),
mh AS (
  SELECT doc_id, s.seed, min(md5(shingle || '#' || CAST(s.seed AS VARCHAR))) AS h
  FROM sh, (SELECT unnest(generate_series(0, 7)) AS seed) s
  GROUP BY doc_id, s.seed),
bands AS (
  SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band_id,
         md5(string_agg(h, '|' ORDER BY seed)) AS band_key
  FROM mh GROUP BY doc_id, CAST(seed // 2 AS INTEGER))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b USING (band_id, band_key)
WHERE a.doc_id < b.doc_id
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: MinHash-LSH pairs → connected components via
    iterative min-label propagation (one node-keyed join + partial-agg
    groupBy per round, O(diameter) rounds — dup clusters are near-cliques
    so 2-4 in practice). cluster_id = min doc_id of the component: the
    canonical "keep one representative per duplicate cluster" step."""
    pairs = D.minhash_lsh_pairs(t(spark, sf_dir, "documents"))
    return D.connected_components(pairs).select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id")
    )


SQL_DEDUP_CLUSTERS = """
WITH RECURSIVE
w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
  WHERE length(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) > 0),
mh AS (
  SELECT doc_id, s.seed, min(md5(shingle || '#' || CAST(s.seed AS VARCHAR))) AS h
  FROM sh, (SELECT unnest(generate_series(0, 7)) AS seed) s
  GROUP BY doc_id, s.seed),
bands AS (
  SELECT doc_id, CAST(seed // 2 AS INTEGER) AS band_id,
         md5(string_agg(h, '|' ORDER BY seed)) AS band_key
  FROM mh GROUP BY doc_id, CAST(seed // 2 AS INTEGER)),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band_id, band_key)
  WHERE a.doc_id < b.doc_id),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum hash sampling (the data-mixture
    primitive): keep-fraction per `lang` via an md5-threshold on doc_id —
    a narrow scan-side filter, no RNG, no shuffle; membership is a pure
    function of (key, salt) so re-runs and joins agree."""
    return SP.stratified_hash_sample(
        t(spark, sf_dir, "documents"),
        key_col="doc_id",
        strata_col="lang",
        fractions_bp={"en": 2500, "de": 10000, "fr": 500},
        default_bp=1000,
    ).select("doc_id", "lang", "source")


SQL_SAMPLE_STRATIFIED = """
SELECT doc_id, lang, source FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#s0'), 1, 15)) AS BIGINT)
        % 10000
      < CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 10000
                  WHEN 'fr' THEN 500 ELSE 1000 END
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing for training-batch assembly:
    shard by doc_id hash (packing is embarrassingly parallel per shard —
    the ONLY shuffle is the hash partition, no global sort), running
    token sum per shard, chunk every 2048 tokens."""
    d = t(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " ")).cast("long")
    )
    return SP.pack_sequences(
        d, key_col="doc_id", n_tokens_col="n_tokens", bin_tokens=2048, n_shards=8
    ).select("doc_id", "shard", "bin_no", "bin_fill")


SQL_PACK_SEQUENCES = """
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#p0'), 1, 15)) AS BIGINT)
           % 8 AS shard
  FROM documents),
c AS (
  SELECT doc_id, shard,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
  FROM d)
SELECT doc_id, shard, (cum - 1) // 2048 AS bin_no,
       cum - ((cum - 1) // 2048) * 2048 AS bin_fill
FROM c
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard with the hot-shingle guard active (df cap 1000 —
    far above any test-SF df, so results equal the uncapped semantics
    here, while the plan is the one that survives a skewed web corpus)."""
    return D.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), threshold_bp=5000, max_shingle_df=1000
    )


SQL_DEDUP_JACCARD = """
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
  WHERE length(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) > 0),
sh AS (
  SELECT sh0.* FROM sh0
  JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 1000) r
  USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       (inter * 10000) // (sa.sz + sb.sz - inter) AS jaccard_bp
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE (inter * 10000) // (sa.sz + sb.sz - inter) >= 5000
"""


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        TX.distinct_token_ratio_bp(F.col("text")).alias("distinct_ratio_bp"),
    )


SQL_TEXT_TOKEN_STATS = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars_computed,
       (len(list_distinct(string_split(text, ' '))) * 10000)
         // len(string_split(text, ' ')) AS distinct_ratio_bp
FROM documents
"""


def q_text_token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style length estimation (BPE-ish pre-tokenizer regex):
    whitespace counting under-counts punctuation-dense text; context-window
    budgeting needs this count."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_ws_tokens"),
        TX.token_count_bpe(F.col("text")).alias("n_bpe_tokens"),
    )


SQL_TEXT_TOKEN_STATS_BPE = r"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r\f\x0B]')) AS n_bpe_tokens
FROM documents
"""


def q_doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing-style) fingerprint: min md5 over every
    16-char window — robust to appends/small edits, unlike whole-doc md5."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.rolling_fingerprint(F.col("text")).alias("roll_fp"))


SQL_DOC_FINGERPRINT_ROLLING = """
SELECT doc_id,
       (SELECT min(md5(substr(text, CAST(u.i AS INTEGER), 16)))
        FROM UNNEST(generate_series(1, greatest(len(text) - 15, 1))) AS u(i)) AS roll_fp
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_score(t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "distinct_ratio_bp", "mean_token_len_bp", "quality_bp", "keep"
    )


SQL_TEXT_QUALITY = """
WITH b AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         (len(list_distinct(string_split(text, ' '))) * 10000)
           // len(string_split(text, ' ')) AS distinct_ratio_bp,
         ((length(text) - (len(string_split(text, ' ')) - 1)) * 10000)
           // len(string_split(text, ' ')) AS mean_token_len_bp
  FROM documents)
SELECT doc_id, n_tokens, distinct_ratio_bp, mean_token_len_bp,
       least(n_tokens, 100) * 50 + distinct_ratio_bp // 2 AS quality_bp,
       CAST(n_tokens >= 5 AND n_tokens <= 10000 AND distinct_ratio_bp > 2000 AS INTEGER) AS keep
FROM b
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.language_scores(d).select(
        "doc_id", "lang", "score_en", "score_es", "score_de", "score_fr", "predicted_lang"
    )


def _sql_lang_score(lang: str) -> str:
    sw = ", ".join(f"'{s}'" for s in TX.STOPWORDS[lang])
    return f"len(list_filter(string_split(text, ' '), x -> x IN ({sw})))"


SQL_LANG_ID = f"""
WITH s AS (
  SELECT doc_id, lang,
         {_sql_lang_score('en')} AS score_en,
         {_sql_lang_score('es')} AS score_es,
         {_sql_lang_score('de')} AS score_de,
         {_sql_lang_score('fr')} AS score_fr
  FROM documents)
SELECT doc_id, lang, score_en, score_es, score_de, score_fr,
       CASE
         WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr AND score_en > 0 THEN 'en'
         WHEN score_es >= score_en AND score_es >= score_de AND score_es >= score_fr AND score_es > 0 THEN 'es'
         WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr AND score_de > 0 THEN 'de'
         WHEN score_fr >= score_en AND score_fr >= score_es AND score_fr >= score_de AND score_fr > 0 THEN 'fr'
         ELSE 'unknown'
       END AS predicted_lang
FROM s
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))


SQL_DOC_FINGERPRINT = """
SELECT doc_id, md5(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS fingerprint
FROM documents
"""


def q_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"))
    return S.cosine_topk(q, c, k=5)


SQL_EMBED_KNN = """
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
qe AS (SELECT q_id, qv[u.i]::DOUBLE AS xv, u.i AS i
       FROM q, UNNEST(generate_series(1, len(qv))) AS u(i)),
ce AS (SELECT n_id, nv[u.i]::DOUBLE AS xv, u.i AS i
       FROM c, UNNEST(generate_series(1, len(nv))) AS u(i)),
dots AS (
  SELECT qe.q_id, ce.n_id,
         sum(qe.xv * ce.xv) AS dot,
         sqrt(sum(qe.xv * qe.xv)) AS nq,
         sqrt(sum(ce.xv * ce.xv)) AS nc
  FROM qe JOIN ce USING (i)
  WHERE qe.q_id <> ce.n_id
  GROUP BY qe.q_id, ce.n_id),
scored AS (
  SELECT q_id, n_id, round(dot / (nq * nc), 4) AS cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY round(dot / (nq * nc), 4) DESC, n_id ASC) AS rank
  FROM dots)
SELECT q_id, n_id, cos_sim, rank FROM scored WHERE rank <= 5
"""


def q_binary_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing oracle: opaque binary column + typed metadata."""
    d = t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        F.length(blob).alias("n_bytes"),
        F.md5(blob).alias("blob_md5"),
    )


SQL_BINARY_BLOB_STATS = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS blob_md5
FROM documents
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream (30-min inactivity gap):
    lag + cumulative-sum-of-boundaries window pattern, then per-session agg.
    The streaming analog is a session window with watermark; this is the
    batch-replay form with a DuckDB oracle."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session TZ is UTC, so ntz→timestamp→long equals
    # DuckDB's floor(epoch(ts)) on the same naive values
    epoch_s = F.col("ts").cast("timestamp").cast("long")
    boundary = (
        F.when(epoch_s - F.lag(epoch_s).over(w) > 1800, 1)
        .otherwise(0)
        .cast("long")
    )
    sess = e.withColumn("boundary", boundary).withColumn(
        "session_no",
        F.sum("boundary").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), TS_FMT_SPARK).alias("session_start"),
            F.date_format(F.max("ts"), TS_FMT_SPARK).alias("session_end"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
    )


SQL_SESSIONIZE = f"""
WITH gaps AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS boundary
  FROM events),
sess AS (
  SELECT *, sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM gaps)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       count(*) AS n_events,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       strftime(max(ts), '{TS_FMT_DUCK}') AS session_end,
       round(sum(value), 4) AS session_value
FROM sess GROUP BY user_id, session_no
"""


def q_dedup_embedding_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.35 among the first
    200 vectors — the synthetic embeddings have no true dups, so the
    threshold selects the top ~1% most-similar pairs — bounded pair space
    for the exact variant; the scale path is dedup_embedding_lsh)."""
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = S.with_cosine(pairs, "va", "vb")
    return scored.where(F.col("cos_sim") >= 0.35).select("id_a", "id_b", "cos_sim")


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs over the WHOLE corpus via LSH bucketing —
    the scale path the capped exact variant (dedup_embedding_near)
    baselines: bucket self-join generates candidates (ids only through
    the shuffle), exact cosine rescore, threshold. Integer-exact
    bucketing makes the pair set engine-independent (full oracle)."""
    return S.embedding_near_pairs_lsh(
        t(spark, sf_dir, "embeddings"), threshold=0.25, n_tables=4, n_planes=12
    )


SQL_DEDUP_EMBEDDING_LSH = """
WITH hp AS (
  SELECT tt.t AS t, pp.p AS p, ii.i AS i,
         CASE WHEN CAST(('0x' || substr(md5(CAST(tt.t AS VARCHAR) || ':' || CAST(pp.p AS VARCHAR)
                                             || ':' || CAST(ii.i - 1 AS VARCHAR)), 1, 1)) AS INTEGER) % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(generate_series(0, 3)) AS t) tt,
       (SELECT unnest(generate_series(0, 11)) AS p) pp,
       (SELECT unnest(generate_series(1, 64)) AS i) ii),
vexp AS (
  SELECT vec_id, u.i AS i, embedding[u.i]::DOUBLE AS xv
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
proj AS (
  SELECT v.vec_id, hp.t, hp.p,
         sum(CAST(floor(v.xv * 1000000) AS BIGINT) * hp.s) AS pr
  FROM vexp v JOIN hp ON hp.i = v.i
  GROUP BY v.vec_id, hp.t, hp.p),
bucket AS (
  SELECT vec_id,
         CAST(t AS VARCHAR) || '#' ||
         string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM proj GROUP BY vec_id, t),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bucket a JOIN bucket b USING (bucket)
  WHERE a.vec_id < b.vec_id),
dots AS (
  SELECT c.id_a, c.id_b,
         sum(a.xv * b.xv) AS dot,
         sqrt(sum(a.xv * a.xv)) AS na,
         sqrt(sum(b.xv * b.xv)) AS nb
  FROM cand c
  JOIN vexp a ON a.vec_id = c.id_a
  JOIN vexp b ON b.vec_id = c.id_b AND b.i = a.i
  GROUP BY c.id_a, c.id_b)
SELECT id_a, id_b, round(dot / (na * nb), 4) AS cos_sim
FROM dots WHERE round(dot / (na * nb), 4) >= 0.25
"""


SQL_DEDUP_EMBEDDING_NEAR = """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
ea AS (SELECT vec_id AS id_a, embedding[u.i]::DOUBLE AS xv, u.i AS i
       FROM e, UNNEST(generate_series(1, len(embedding))) AS u(i)),
eb AS (SELECT vec_id AS id_b, embedding[u.i]::DOUBLE AS xv, u.i AS i
       FROM e, UNNEST(generate_series(1, len(embedding))) AS u(i)),
dots AS (
  SELECT ea.id_a, eb.id_b,
         sum(ea.xv * eb.xv) AS dot,
         sqrt(sum(ea.xv * ea.xv)) AS na,
         sqrt(sum(eb.xv * eb.xv)) AS nb
  FROM ea JOIN eb USING (i)
  WHERE ea.id_a < eb.id_b
  GROUP BY ea.id_a, eb.id_b)
SELECT id_a, id_b, round(dot / (na * nb), 4) AS cos_sim
FROM dots WHERE round(dot / (na * nb), 4) >= 0.35
"""


def q_embed_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH. Oracle-able because bucketing
    is integer-exact: embeddings are quantized (floor(x*1e6) as int64) and
    hyperplane signs are md5-derived ±1, so the candidate set — not just
    the re-ranked scores — is bit-identical in DuckDB."""
    e = t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"))
    return S.lsh_topk(q, c, k=5, n_tables=4, n_planes=6)


SQL_EMBED_KNN_LSH = """
WITH hp AS (
  SELECT tt.t AS t, pp.p AS p, ii.i AS i,
         CASE WHEN CAST(('0x' || substr(md5(CAST(tt.t AS VARCHAR) || ':' || CAST(pp.p AS VARCHAR)
                                             || ':' || CAST(ii.i - 1 AS VARCHAR)), 1, 1)) AS INTEGER) % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(generate_series(0, 3)) AS t) tt,
       (SELECT unnest(generate_series(0, 5)) AS p) pp,
       (SELECT unnest(generate_series(1, 64)) AS i) ii),
vexp AS (
  SELECT vec_id, u.i AS i, embedding[u.i]::DOUBLE AS xv
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
proj AS (
  SELECT v.vec_id, hp.t, hp.p,
         sum(CAST(floor(v.xv * 1000000) AS BIGINT) * hp.s) AS pr
  FROM vexp v JOIN hp ON hp.i = v.i
  GROUP BY v.vec_id, hp.t, hp.p),
bucket AS (
  SELECT vec_id,
         CAST(t AS VARCHAR) || '#' ||
         string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM proj GROUP BY vec_id, t),
cand AS (
  SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS n_id
  FROM bucket qb JOIN bucket cb USING (bucket)
  WHERE qb.vec_id < 10 AND qb.vec_id <> cb.vec_id),
dots AS (
  SELECT c.q_id, c.n_id,
         sum(a.xv * b.xv) AS dot,
         sqrt(sum(a.xv * a.xv)) AS na,
         sqrt(sum(b.xv * b.xv)) AS nb
  FROM cand c
  JOIN vexp a ON a.vec_id = c.q_id
  JOIN vexp b ON b.vec_id = c.n_id AND b.i = a.i
  GROUP BY c.q_id, c.n_id),
ranked AS (
  SELECT q_id, n_id, round(dot / (na * nb), 4) AS cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY round(dot / (na * nb), 4) DESC, n_id) AS rank
  FROM dots)
SELECT q_id, n_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_embed_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: inverted lists under deterministic quantized centroids,
    n_probe-list search, exact re-rank — the second scale path next to
    LSH, with the same engine-exact bucketing so DuckDB reproduces the
    inverted lists (not just the final scores) bit-for-bit."""
    e = t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"))
    return S.ivf_topk(q, c, k=5, n_centroids=16, n_probe=4)


SQL_EMBED_KNN_IVF = """
WITH cexp AS (
  SELECT vec_id AS cid, u.i AS i,
         CAST(floor(embedding[u.i]::DOUBLE * 1000000) AS BIGINT) AS qj
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
  WHERE vec_id < 16),
cnorm AS (SELECT cid, sqrt(CAST(sum(qj * qj) AS DOUBLE)) AS nrm FROM cexp GROUP BY cid),
cvals AS (
  SELECT c.cid, c.i,
         CASE WHEN n.nrm > 0
              THEN CAST(floor(CAST(c.qj AS DOUBLE) * 1000000 / n.nrm) AS BIGINT)
              ELSE 0 END AS val
  FROM cexp c JOIN cnorm n USING (cid)),
vexp AS (
  SELECT vec_id, u.i AS i, embedding[u.i]::DOUBLE AS xv
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
vq AS (SELECT vec_id, i, CAST(floor(xv * 1000000) AS BIGINT) AS qv FROM vexp),
scores AS (
  SELECT v.vec_id, c.cid, sum(v.qv * c.val) AS s
  FROM vq v JOIN cvals c USING (i)
  GROUP BY v.vec_id, c.cid),
corpus_assign AS (
  SELECT vec_id AS n_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scores) WHERE rn = 1),
query_probe AS (
  SELECT vec_id AS q_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scores WHERE vec_id < 10) WHERE rn <= 4),
cand AS (
  SELECT DISTINCT qp.q_id, ca.n_id
  FROM query_probe qp JOIN corpus_assign ca USING (cid)
  WHERE qp.q_id <> ca.n_id),
dots AS (
  SELECT c.q_id, c.n_id,
         sum(a.xv * b.xv) AS dot,
         sqrt(sum(a.xv * a.xv)) AS na,
         sqrt(sum(b.xv * b.xv)) AS nb
  FROM cand c
  JOIN vexp a ON a.vec_id = c.q_id
  JOIN vexp b ON b.vec_id = c.n_id AND b.i = a.i
  GROUP BY c.q_id, c.n_id),
ranked AS (
  SELECT q_id, n_id, round(dot / (na * nb), 4) AS cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY round(dot / (na * nb), 4) DESC, n_id) AS rank
  FROM dots)
SELECT q_id, n_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash64(t(spark, sf_dir, "documents"))


SQL_DEDUP_SIMHASH = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS t
  FROM documents),
tok2 AS (
  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
  FROM tok WHERE length(t) > 0),
votes AS (
  SELECT doc_id, bb.b AS b,
         sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM tok2, (SELECT unnest(generate_series(0, 59)) AS b) bb
  GROUP BY doc_id, bb.b)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing end-to-end: binary media column →
    mapInPandas decode (stubbed codec) → typed metadata. The stub derives
    every value from the content md5, so even this Python-side path is
    oracle-checked."""
    media = M.documents_as_media(t(spark, sf_dir, "documents"))
    return M.extract_features(media).select(
        "media_id", "kind", "n_bytes", "content_md5", "width", "height"
    )


SQL_MULTIMODAL_FEATURES = """
SELECT doc_id AS media_id,
       'image' AS kind,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       64 + CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) % 192 AS width,
       64 + CAST(('0x' || substr(md5(text), 3, 2)) AS INTEGER) % 192 AS height
FROM documents
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing E2E: binary → mapInPandas resize (stubbed codec,
    md5-derived output) → dims + re-encoded-content hash, all
    oracle-reproducible."""
    media = M.documents_as_media(t(spark, sf_dir, "documents"))
    out = M.resize_media(media, max_px=128)
    return out.select(
        "media_id", "width", "height", F.md5("content").alias("resized_md5")
    )


SQL_MULTIMODAL_RESIZE = """
WITH src AS (
  SELECT doc_id AS media_id, md5(text) AS h,
         64 + CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) % 192 AS w0,
         64 + CAST(('0x' || substr(md5(text), 3, 2)) AS INTEGER) % 192 AS h0
  FROM documents),
s1 AS (
  SELECT media_id, h,
         CASE WHEN w0 > 128 THEN 128 ELSE w0 END AS w1,
         CASE WHEN w0 > 128 THEN (h0 * 128) // w0 ELSE h0 END AS h1
  FROM src),
scaled AS (
  SELECT media_id, h,
         CASE WHEN h1 > 128 THEN (w1 * 128) // h1 ELSE w1 END AS width,
         CASE WHEN h1 > 128 THEN 128 ELSE h1 END AS height
  FROM s1)
SELECT media_id, CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
       md5(h || ':' || CAST(width AS VARCHAR) || 'x' || CAST(height AS VARCHAR)) AS resized_md5
FROM scaled
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing E2E: one video row fans out to
    min(duration/5s, 16) frame rows with md5-derived frame bytes."""
    media = M.documents_as_media(t(spark, sf_dir, "documents"), kind="video")
    out = M.sample_frames(media, every_ms=5000, max_frames=16)
    return out.select(
        "media_id", "frame_idx", "frame_ts_ms", F.md5("frame").alias("frame_md5")
    )


SQL_MULTIMODAL_FRAME_SAMPLE = """
WITH src AS (
  SELECT doc_id AS media_id, md5(text) AS h,
         500 + CAST(('0x' || substr(md5(text), 5, 4)) AS INTEGER) % 60000 AS duration_ms
  FROM documents),
frames AS (
  SELECT media_id, h, u.i AS frame_idx
  FROM src,
       UNNEST(generate_series(0, least(duration_ms // 5000, 16) - 1)) AS u(i))
SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(frame_idx * 5000 AS INTEGER) AS frame_ts_ms,
       md5(h || ':frame:' || CAST(frame_idx AS VARCHAR)) AS frame_md5
FROM frames
"""


def q_avro_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro capability end-to-end WITHOUT the spark-avro jar: synthesize an
    Avro object-container file from an events slice (pure-Python codec,
    deflate blocks), scan it back through read_columnar's fallback path,
    and hash-match the original rows — container encode/decode, block
    framing, union nulls and double round-trips all sit on the hash path."""
    import atexit
    import shutil
    import tempfile

    from kafka_connect_fs_spark.sources.avro_io import write_container
    from kafka_connect_fs_spark.sources.readers import WorkItem, read_columnar

    rows = [
        {
            "event_id": r["event_id"],
            "user_id": r["user_id"],
            "event_type": r["event_type"],
            "value": r["value"],
            "ts_s": r["ts"].strftime("%Y-%m-%d %H:%M:%S"),
        }
        for r in _events_slice(
            sf_dir, ["event_id", "user_id", "event_type", "value", "ts"]
        )  # bounded slice: file synthesis only, not the scan path
    ]
    schema = {
        "type": "record",
        "name": "Ev",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "user_id", "type": "long"},
            {"name": "event_type", "type": ["null", "string"]},
            {"name": "value", "type": "double"},
            {"name": "ts_s", "type": "string"},
        ],
    }
    base = tempfile.mkdtemp(prefix="kcfs_avro_q_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    path = os.path.join(base, "events.avro")
    write_container(path, schema, rows, codec="deflate")
    df = read_columnar(
        spark, [WorkItem(path, 0, os.path.getsize(path))], "avro"
    )
    return df.select(
        "event_id", "user_id", "event_type",
        F.round("value", 4).alias("value"),
        F.col("ts_s").alias("last_ts"),
    )


SQL_AVRO_INGEST_ROUNDTRIP = f"""
SELECT event_id, user_id, event_type, round(value, 4) AS value,
       strftime(ts, '{TS_FMT_DUCK}') AS last_ts
FROM events WHERE event_id < 2000
"""


def q_avro_logical_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro LOGICAL types end-to-end through the pure-Python codec:
    synthesize a container whose columns carry decimal(20,4) (bytes +
    two's-complement unscaled), date, and timestamp-micros, read it back
    typed (DecimalType/DateType/TimestampType via the from_json scan
    path), and hash-match a relational recomputation. Values are surfaced
    engine-neutrally (decimal re-scaled to bigint, date/timestamp
    formatted) so the compare is exact. Reference behavior: Confluent
    AvroData logical-type mapping (ref AvroFileReader.java:33-38)."""
    import atexit
    import datetime as dt
    import shutil
    import tempfile
    from decimal import Decimal

    from kafka_connect_fs_spark.sources.avro_io import write_container
    from kafka_connect_fs_spark.sources.readers import WorkItem, read_columnar

    rows = [
        {
            "event_id": r["event_id"],
            "amount": Decimal(_round_half_up_bp(r["value"])).scaleb(-4),
            "day": r["ts"].date(),
            "ts_us": r["ts"]
            + dt.timedelta(microseconds=r["event_id"] % 1_000_000),
        }
        for r in _events_slice(sf_dir, ["event_id", "value", "ts"])
        # bounded slice: file synthesis only, not the scan path
    ]
    schema = {
        "type": "record",
        "name": "EvL",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "amount", "type": {
                "type": "bytes", "logicalType": "decimal",
                "precision": 20, "scale": 4}},
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts_us", "type": {
                "type": "long", "logicalType": "timestamp-micros"}},
        ],
    }
    base = tempfile.mkdtemp(prefix="kcfs_avro_lq_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    path = os.path.join(base, "events_logical.avro")
    write_container(path, schema, rows, codec="deflate")
    df = read_columnar(
        spark, [WorkItem(path, 0, os.path.getsize(path))], "avro"
    )
    return df.select(
        "event_id",
        (F.col("amount") * 10000).cast("long").alias("value_bp"),
        F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        F.date_format("ts_us", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_us_s"),
    )


SQL_AVRO_LOGICAL_ROUNDTRIP = """
SELECT event_id,
       CAST(round(value * 10000, 0) AS BIGINT) AS value_bp,
       strftime(ts, '%Y-%m-%d') AS day_s,
       strftime(ts + to_microseconds(CAST(event_id % 1000000 AS BIGINT)),
                '%Y-%m-%d %H:%M:%S.%f') AS ts_us_s
FROM events WHERE event_id < 2000
"""


_COBOL_EV_CPY = """
       01  EV.
           05  EVENT-ID    PIC 9(10).
           05  USER-ID     PIC S9(8).
           05  EVENT-TYPE  PIC X(16).
           05  VALUE-BP    PIC S9(13) COMP-3.
           05  TS-S        PIC X(19).
"""


def q_cobol_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mainframe capability end-to-end: synthesize an EBCDIC fixed-length
    dump from an events slice (copybook.encode_records — zoned decimal
    with sign overpunch, COMP-3 packed decimal, cp037 text), scan it back
    through the distributed CobolFileReader (record-boundary splits,
    numpy-vectorized decode, collapse_root schema policy) and hash-match
    the original rows. Parity target: the reference's Cobrix-backed
    CobolFileReader (CobolFileReader.java:100-176), re-expressed as a
    mapInPandas scan instead of a single-threaded iterator."""
    import atexit
    import shutil
    import tempfile

    from kafka_connect_fs_spark.sources.cobol import read_cobol
    from kafka_connect_fs_spark.sources.copybook import encode_records, parse_copybook
    from kafka_connect_fs_spark.sources.readers import WorkItem

    rows = [
        {
            "event_id": r["event_id"],
            "user_id": r["user_id"],
            "event_type": r["event_type"],
            "value_bp": _round_half_up_bp(r["value"]),
            "ts_s": r["ts"].strftime("%Y-%m-%d %H:%M:%S"),
        }
        for r in _events_slice(
            sf_dir, ["event_id", "user_id", "event_type", "value", "ts"]
        )  # bounded slice: file synthesis only, not the scan path
    ]
    root = parse_copybook(_COBOL_EV_CPY)
    base = tempfile.mkdtemp(prefix="kcfs_cobol_q_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    path = os.path.join(base, "events.dt")
    with open(path, "wb") as f:
        f.write(encode_records(rows, root))
    df = read_cobol(
        spark,
        [WorkItem(path, 0, os.path.getsize(path))],
        {"copybook_content": _COBOL_EV_CPY, "schema_policy": "collapse_root",
         # ~10 KB splits: a dozen multi-record tasks exercise the
         # distributed plan (0 would degrade to one task PER RECORD)
         "input_split_size_mb": 0.01},
    )
    return df.select(
        F.col("EVENT_ID").alias("event_id"),
        F.col("USER_ID").cast("long").alias("user_id"),
        F.col("EVENT_TYPE").alias("event_type"),
        F.col("VALUE_BP").alias("value_bp"),
        F.col("TS_S").alias("ts_s"),
    )


SQL_COBOL_INGEST_ROUNDTRIP = f"""
SELECT event_id, user_id, event_type,
       CAST(round(value * 10000, 0) AS BIGINT) AS value_bp,
       strftime(ts, '{TS_FMT_DUCK}') AS ts_s
FROM events WHERE event_id < 2000
"""


_COBOL_ODO_CPY = (
    "01 UREC. 05 USER_ID PIC 9(8). 05 CNT PIC 9(2). "
    "05 EVENTS OCCURS 0 TO 10 DEPENDING ON CNT PIC 9(10)."
)


def q_cobol_odo_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length mainframe records end-to-end: synthesize an
    OCCURS DEPENDING ON dump (per-user record carrying its first ≤10
    event ids, records compacted back-to-back — every record a different
    length), read it through the sequential ODO framing + per-count
    vectorized decode + counter-sliced arrays, explode back to rows and
    hash-match the relational recomputation. Covers the
    variable-length reader surface the reference exposes via Cobrix's
    VarLenReader config (CobolFileReader.java:47-92)."""
    import atexit
    import shutil
    import tempfile

    from kafka_connect_fs_spark.sources.cobol import read_cobol
    from kafka_connect_fs_spark.sources.readers import WorkItem

    e = _events_slice(sf_dir, ["user_id", "event_id"])
    # bounded slice: file synthesis only, not the scan path
    by_user: dict[int, list[int]] = {}
    for r in e:
        by_user.setdefault(r["user_id"], []).append(r["event_id"])
    buf = bytearray()
    for uid in sorted(by_user):
        ids = sorted(by_user[uid])[:10]
        # width guard: an overflowing f-string would silently widen past
        # the PIC clause and misalign every subsequent record's framing
        assert uid < 10**8 and all(i < 10**10 for i in ids), (uid, ids[:1])
        buf += (
            f"{uid:08d}{len(ids):02d}" + "".join(f"{i:010d}" for i in ids)
        ).encode("cp037")
    base = tempfile.mkdtemp(prefix="kcfs_odo_q_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    path = os.path.join(base, "users.dt")
    with open(path, "wb") as f:
        f.write(bytes(buf))
    df = read_cobol(
        spark,
        [WorkItem(path, 0, os.path.getsize(path))],
        {"copybook_content": _COBOL_ODO_CPY, "schema_policy": "collapse_root"},
    )
    return df.select(
        F.col("USER_ID").cast("long").alias("user_id"),
        F.explode("EVENTS").alias("event_id"),
    ).select("user_id", F.col("event_id").cast("long").alias("event_id"))


SQL_COBOL_ODO_ROUNDTRIP = """
WITH ranked AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events WHERE event_id < 2000)
SELECT user_id, event_id FROM ranked WHERE rn <= 10
"""


_COBOL_MULTI_ODO_CPY = (
    "01 U. 05 USER_ID PIC 9(8). 05 NE PIC 9(2). "
    "05 EVS OCCURS 0 TO 5 DEPENDING ON NE PIC 9(10). "
    "05 NT PIC 9(2). "
    "05 TYPS OCCURS 0 TO 4 DEPENDING ON NT PIC X(8)."
)


def q_cobol_multi_odo_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO OCCURS DEPENDING ON arrays per record — the second counter
    (NT) is laid out AFTER the first variable array, so its on-disk
    position shifts with every record's first count; ~1/3 of users carry
    a zero-length second array. Framing must apply cumulative compaction
    left-to-right and decode must group by the count VECTOR. Covers the
    multi-ODO surface Cobrix exposes (ref CobolFileReader.java:47-92)."""
    import atexit
    import shutil
    import tempfile

    from kafka_connect_fs_spark.sources.cobol import read_cobol
    from kafka_connect_fs_spark.sources.readers import WorkItem

    e = _events_slice(sf_dir, ["user_id", "event_id", "event_type"])
    # bounded slice: file synthesis only, not the scan path
    by_user: dict[int, list] = {}
    for r in e:
        by_user.setdefault(r["user_id"], []).append(
            (r["event_id"], r["event_type"])
        )
    buf = bytearray()
    for uid in sorted(by_user):
        evs = sorted(by_user[uid])
        ids = [i for i, _ in evs][:5]
        typs = [s[:8] for _, s in evs][:4] if uid % 3 != 0 else []
        # width guard: an overflowing f-string would silently widen past
        # the PIC clause and misalign every subsequent record's framing
        assert uid < 10**8 and all(i < 10**10 for i in ids), (uid, ids[:1])
        buf += (
            f"{uid:08d}{len(ids):02d}"
            + "".join(f"{i:010d}" for i in ids)
            + f"{len(typs):02d}"
            + "".join(s.ljust(8) for s in typs)
        ).encode("cp037")
    base = tempfile.mkdtemp(prefix="kcfs_modo_q_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    path = os.path.join(base, "users2.dt")
    with open(path, "wb") as f:
        f.write(bytes(buf))
    df = read_cobol(
        spark,
        [WorkItem(path, 0, os.path.getsize(path))],
        {"copybook_content": _COBOL_MULTI_ODO_CPY,
         "schema_policy": "collapse_root"},
    )
    return df.select(
        F.col("USER_ID").cast("long").alias("user_id"),
        F.concat_ws(
            ",", F.transform("EVS", lambda x: x.cast("long").cast("string"))
        ).alias("ev_ids"),
        F.concat_ws(",", "TYPS").alias("typs"),
    )


SQL_COBOL_MULTI_ODO_ROUNDTRIP = """
WITH ranked AS (
  SELECT user_id, event_id, substr(event_type, 1, 8) AS et,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events WHERE event_id < 2000)
SELECT user_id,
  string_agg(CASE WHEN rn <= 5 THEN CAST(event_id AS VARCHAR) END,
             ',' ORDER BY event_id) AS ev_ids,
  COALESCE(string_agg(CASE WHEN user_id % 3 <> 0 AND rn <= 4 THEN et END,
                      ',' ORDER BY event_id), '') AS typs
FROM ranked GROUP BY user_id
"""


# --------------------------------------------------------------------------


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cdc_lww_latest": q_cdc_lww_latest,
    "cdc_changes_topk": q_cdc_changes_topk,
    "transcript_final_state": q_transcript_final_state,
    "ingest_e2e_final_state": q_ingest_e2e_final_state,
    "lake_read_range": q_lake_read_range,
    "lake_time_travel": q_lake_time_travel,
    "lake_point_lookup": q_lake_point_lookup,
    "lake_cdf_changes": q_lake_cdf_changes,
    "cdc_deletes_applied": q_cdc_deletes_applied,
    "lake_schema_evolution": q_lake_schema_evolution,
    "lake_rebucket": q_lake_rebucket,
    "mv_conv_rollup": q_mv_conv_rollup,
    "mv_role_rollup": q_mv_role_rollup,
    "retention_delete_where": q_retention_delete_where,
    "avro_ingest_roundtrip": q_avro_ingest_roundtrip,
    "avro_logical_roundtrip": q_avro_logical_roundtrip,
    "cobol_ingest_roundtrip": q_cobol_ingest_roundtrip,
    "cobol_odo_roundtrip": q_cobol_odo_roundtrip,
    "cobol_multi_odo_roundtrip": q_cobol_multi_odo_roundtrip,
    "q1_pricing_summary": q_q1_pricing_summary,
    "q3_top_revenue": q_q3_top_revenue,
    "region_revenue_rollup": q_region_revenue_rollup,
    "window_running_total": q_window_running_total,
    "topk_orders_per_priority": q_topk_orders_per_priority,
    "q6_revenue_delta": q_q6_revenue_delta,
    "distinct_users_per_type": q_distinct_users_per_type,
    "set_ops_clicked_never_purchased": q_set_ops_clicked_never_purchased,
    "asof_click_purchase": q_asof_click_purchase,
    "range_join_attribution": q_range_join_attribution,
    "dedup_exact": q_dedup_exact,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "sample_stratified": q_sample_stratified,
    "pack_sequences": q_pack_sequences,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "text_token_stats": q_text_token_stats,
    "text_token_stats_bpe": q_text_token_stats_bpe,
    "doc_fingerprint_rolling": q_doc_fingerprint_rolling,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "embed_knn": q_embed_knn,
    "binary_blob_stats": q_binary_blob_stats,
    "sessionize": q_sessionize,
    "dedup_embedding_near": q_dedup_embedding_near,
    "embed_knn_lsh": q_embed_knn_lsh,
    "embed_knn_ivf": q_embed_knn_ivf,
    "dedup_simhash": q_dedup_simhash,
    "multimodal_features": q_multimodal_features,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_frame_sample": q_multimodal_frame_sample,
}

ORACLES: dict[str, str] = {
    "cdc_lww_latest": SQL_CDC_LWW_LATEST,
    "cdc_changes_topk": SQL_CDC_CHANGES_TOPK,
    "transcript_final_state": SQL_TRANSCRIPT_FINAL_STATE,
    "ingest_e2e_final_state": SQL_TRANSCRIPT_FINAL_STATE,
    "lake_read_range": SQL_LAKE_READ_RANGE,
    "lake_time_travel": SQL_LAKE_TIME_TRAVEL,
    "lake_point_lookup": SQL_LAKE_POINT_LOOKUP,
    "lake_cdf_changes": SQL_LAKE_CDF_CHANGES,
    "cdc_deletes_applied": SQL_CDC_DELETES_APPLIED,
    "lake_schema_evolution": SQL_LAKE_SCHEMA_EVOLUTION,
    # content must be invariant under re-bucketing: same oracle as the
    # plain final-state query
    "lake_rebucket": SQL_TRANSCRIPT_FINAL_STATE,
    "mv_conv_rollup": SQL_MV_CONV_ROLLUP,
    "mv_role_rollup": SQL_MV_ROLE_ROLLUP,
    "retention_delete_where": SQL_RETENTION_DELETE_WHERE,
    "avro_ingest_roundtrip": SQL_AVRO_INGEST_ROUNDTRIP,
    "avro_logical_roundtrip": SQL_AVRO_LOGICAL_ROUNDTRIP,
    "cobol_ingest_roundtrip": SQL_COBOL_INGEST_ROUNDTRIP,
    "cobol_odo_roundtrip": SQL_COBOL_ODO_ROUNDTRIP,
    "cobol_multi_odo_roundtrip": SQL_COBOL_MULTI_ODO_ROUNDTRIP,
    "q1_pricing_summary": SQL_Q1,
    "q3_top_revenue": SQL_Q3,
    "region_revenue_rollup": SQL_REGION_ROLLUP,
    "window_running_total": SQL_WINDOW_RUNNING,
    "topk_orders_per_priority": SQL_TOPK_ORDERS,
    "q6_revenue_delta": SQL_Q6,
    "distinct_users_per_type": SQL_DISTINCT_USERS,
    "set_ops_clicked_never_purchased": SQL_SET_OPS,
    "asof_click_purchase": SQL_ASOF_CLICK_PURCHASE,
    "range_join_attribution": SQL_RANGE_JOIN_ATTRIBUTION,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "dedup_ngram_jaccard": SQL_DEDUP_JACCARD,
    "text_token_stats": SQL_TEXT_TOKEN_STATS,
    "text_token_stats_bpe": SQL_TEXT_TOKEN_STATS_BPE,
    "doc_fingerprint_rolling": SQL_DOC_FINGERPRINT_ROLLING,
    "text_quality": SQL_TEXT_QUALITY,
    "lang_id": SQL_LANG_ID,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "embed_knn": SQL_EMBED_KNN,
    "binary_blob_stats": SQL_BINARY_BLOB_STATS,
    "sessionize": SQL_SESSIONIZE,
    "dedup_embedding_near": SQL_DEDUP_EMBEDDING_NEAR,
    "dedup_embedding_lsh": SQL_DEDUP_EMBEDDING_LSH,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "multimodal_resize": SQL_MULTIMODAL_RESIZE,
    "multimodal_frame_sample": SQL_MULTIMODAL_FRAME_SAMPLE,
    # embed_knn_lsh gained an oracle in r02: bucketing is now integer-exact
    # (quantized embeddings × md5-derived ±1 planes), so the candidate set
    # is engine-independent; recall quality is separately gated by the
    # recall-vs-exact test in tests/test_functions.py
    "embed_knn_lsh": SQL_EMBED_KNN_LSH,
    "embed_knn_ivf": SQL_EMBED_KNN_IVF,
}
