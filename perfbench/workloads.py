"""The benchmark's workloads. Each is a closed loop driven by one process:
the next operation starts when the previous one has returned.

Why each workload exists:

- ``tail_append`` (gated): a seeded table and a fixed set of 16 files; each
  batch appends 2,000 Zipf-keyed updates to every file.
  Offsets above 0 route every batch through the Python offset scanner, the
  line-stats pass, watermark deltas, one MoR delta merge and compaction.
  The engine compacts after every batch, bounded to the four most
  fragmented buckets: the engine's setting for steady-state loops, and a
  per-batch cost that does not depend on where the window starts.
  Per-batch fixed cost dominates, which is the connector's real job.
- ``read_mix`` (gated): reads beside writes. Set-up builds a MoR table
  fragmented by a seed load and 8 small delta merges, a materialized
  view (MV) over it, and the query tables (``tables.py``). Each cycle does
  one small ``merge``, then ``refresh``, a full resolved scan, point
  lookups of two hot and two cold conv_ids, three reads of the latest
  commit's changes feed, and a sweep over ``QUERY_SUBSET``. The short
  reads run several times per cycle, so their per-kind median shrugs off
  one stalled call. A write-side change that fragments the table, or an MV
  change, shows here and not in ``tail_append``; a change to the scanner,
  the watermarks or the engine shows in ``tail_append`` and not here.
  The sweep is the only place the benchmark reaches ``functions.*``,
  ``operators.*`` and the Avro and COBOL readers.
- ``bulk_load`` (run by hand, not gated): fresh JSONL files ingested from
  offset 0 into an empty MoR table through the JVM-native reader, where
  almost all of the time is the ``LakeTable.merge`` shuffle and write.
  Each run costs a JVM start and a warm-up. On a 4-core host, a full set
  of gated runs only has time for two workloads, and ``bench.py``'s ingest
  leg already times this path end to end.

Process-state policy: every run is a fresh Python process with a fresh JVM,
so every run starts from the same state. A fresh JVM's first batches run
2-3x slower (JIT, codegen, Python worker start-up), so each workload's
set-up ends with untimed warm-up operations of the same kind as the timed
ones; that cost is charged to ``setup_s``, not to the timed window. The
program's process-lifetime lake caches in ``queries.py`` (``_LAKE_CACHE``
and the others) are never filled: no query in ``QUERY_SUBSET`` uses them,
so every sweep does the same work.

Flush policy: ``os.sync()`` runs once after set-up, right before the timed
window, so kernel writeback of set-up data does not land inside it (the
same reason ``bench.py`` syncs before each timed run). Within the window,
data written by one operation may be written back during the next; that is
part of the measured system.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from perfbench import tables
from perfbench.gen import Generator, jsonl, row_tuple, spread
from perfbench.procs import measure

N_BUCKETS = 16
# queries that read only the tables ``tables.py`` writes, one per module
# they reach: operators.asof, functions.dedup (MinHash LSH), functions.text,
# functions.similarity (cosine top-k), sources.avro_io, sources.cobol.
# operators.lww is reached by every lake read.
QUERY_SUBSET = (
    "asof_click_purchase",
    "dedup_minhash_lsh",
    "text_token_stats",
    "embed_knn",
    "avro_ingest_roundtrip",
    "cobol_ingest_roundtrip",
)
COMPACT_EVERY = 1
COMPACT_MIN_FILES = 2
COMPACT_MAX_BUCKETS = 4


def _events_frame(spark, rows: list[dict]):
    import pandas as pd

    from kafka_connect_fs_spark.testing.generator import CHANGE_EVENT_SCHEMA

    pdf = pd.DataFrame(rows, columns=[f.name for f in CHANGE_EVENT_SCHEMA.fields])
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="ms")
    return spark.createDataFrame(pdf, CHANGE_EVENT_SCHEMA)


def _table_rows(df) -> set[tuple]:
    """The resolved lake rows as generator tuples (ts as epoch ms)."""
    from pyspark.sql import functions as F

    pdf = df.select(
        "conv_id", "turn_idx", "role", "text", "tool", F.unix_millis("ts").alias("ts")
    ).toPandas()
    pdf["tool"] = pdf["tool"].astype(object).where(pdf["tool"].notna(), None)
    return {(c, int(t), r, x, o, int(s)) for c, t, r, x, o, s in pdf.itertuples(index=False)}


def _data_bytes(table_root: str) -> int:
    """Bytes of every data file under a table, referenced or not."""
    total = 0
    for dirpath, _, files in os.walk(os.path.join(table_root, "data")):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _oracle_rows(rows: list[dict]) -> set[tuple]:
    from kafka_connect_fs_spark.testing.generator import expected_final_state

    return {row_tuple(r) for r in expected_final_state(rows).values()}


class Workload:
    """Set-up is split in two: ``build`` makes the inputs and is repeated
    for ``setup_s``; ``warm_up`` loads them into the program and runs
    untimed operations, once. ``op`` is one timed closed-loop operation.
    ``lake_usage`` returns (table data bytes on disk, source bytes
    ingested) so far, for the space a window's ingest adds. ``span(name)``
    wraps the benchmark's own timed calls for the traced run."""

    def __init__(self, spark, seed: int, work: str, span=None):
        self.spark, self.seed, self.work = spark, seed, work
        self.span = span or (lambda name: contextlib.nullcontext())

    def _timed(self, rec, kind: str, fn, check, events: int = 0):
        """Time ``fn`` (a call into the program plus the action that
        consumes its result) under the span ``op.<kind>``, and record
        whether ``check`` accepts the result. ``rec`` is None in warm-up."""
        with self.span(f"op.{kind}"):
            out, timing = measure(fn)
        if rec is not None:
            rec.sample(kind, timing, events=events, ok=check(out))
        return out


class BulkLoad(Workload):
    """One op = ``run_once`` over the same fresh file set into a new table."""

    name = "bulk_load"
    n_files = 8
    n_events = 160_000
    n_convs, turns = 20_000, 8
    warm_ops = 2
    write_op = "bulk_run_once"
    events_alias = "bulk_events_per_s"
    ops = written = 0

    def build(self) -> None:
        self.rows = Generator(self.seed, self.n_convs, self.turns).events(self.n_events)
        self.src = os.path.join(self.work, "src")
        os.makedirs(self.src)
        for i, part in enumerate(spread(self.rows, self.n_files)):
            with open(os.path.join(self.src, f"part-{i:03d}.jsonl"), "w") as f:
                f.write(jsonl(part))
        self.source_bytes = sum(
            os.path.getsize(os.path.join(self.src, p)) for p in os.listdir(self.src)
        )

    def warm_up(self) -> None:
        for _ in range(self.warm_ops):
            self.op(None)

    def _engine(self, tag: str):
        from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine
        from kafka_connect_fs_spark.testing.generator import CHANGE_EVENT_SCHEMA

        return IngestEngine(
            self.spark,
            IngestConfig(
                uris=[self.src],
                regexp=r"part-\d+\.jsonl$",
                table_root=os.path.join(self.work, f"table-{tag}"),
                checkpoint_root=os.path.join(self.work, f"ckpt-{tag}"),
                fmt="jsonl",
                schema=CHANGE_EVENT_SCHEMA,
                n_buckets=N_BUCKETS,
            ),
        )

    def op(self, rec) -> None:
        if self.ops:  # keep only the latest table on disk
            for d in ("table", "ckpt"):
                shutil.rmtree(os.path.join(self.work, f"{d}-op{self.ops - 1}"))
        eng = self._engine(f"op{self.ops}")
        self.ops += 1
        self._timed(rec, self.write_op, eng.run_once,
                    lambda res: res.n_events == self.n_events, events=self.n_events)
        self.table = eng.lake
        self.written += _data_bytes(self.table.root)

    def lake_usage(self) -> tuple[int, int]:
        return self.written, self.ops * self.source_bytes

    def verify(self, rec) -> None:
        rec.check("final_state", _table_rows(self.table.read()) == _oracle_rows(self.rows))


class TailAppend(Workload):
    """One op = append a batch to every file, then ``run_once``."""

    name = "tail_append"
    n_files = 16
    seed_events = 64_000
    batch_events = 32_000  # 2,000 per file
    n_convs, turns = 5_000, 8
    warm_ops = 2
    write_op = "tail_batch"
    events_alias = "tail_events_per_s"

    def build(self) -> None:
        self.gen = Generator(self.seed, self.n_convs, self.turns)
        self.src = os.path.join(self.work, "src")
        os.makedirs(self.src)
        self.paths = [os.path.join(self.src, f"part-{i:03d}.jsonl") for i in range(self.n_files)]
        self.rows: list[dict] = []
        self.source_bytes = 0
        self._append(self.seed_events)

    def warm_up(self) -> None:
        from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine
        from kafka_connect_fs_spark.testing.generator import CHANGE_EVENT_SCHEMA

        self.engine = IngestEngine(
            self.spark,
            IngestConfig(
                uris=[self.src],
                regexp=r"part-\d+\.jsonl$",
                table_root=os.path.join(self.work, "table"),
                checkpoint_root=os.path.join(self.work, "ckpt"),
                fmt="jsonl",
                schema=CHANGE_EVENT_SCHEMA,
                n_buckets=N_BUCKETS,
                compact_every=COMPACT_EVERY,
                compact_min_files_per_bucket=COMPACT_MIN_FILES,
                compact_max_buckets_per_trigger=COMPACT_MAX_BUCKETS,
            ),
        )
        self.engine.run_once()  # offset-0 seed load through the native reader
        for _ in range(self.warm_ops):
            self.op(None)

    def _append(self, n: int) -> None:
        rows = self.gen.events(n)
        self.rows.extend(rows)
        for path, part in zip(self.paths, spread(rows, self.n_files)):
            text = jsonl(part)
            with open(path, "a") as f:
                f.write(text)
            self.source_bytes += len(text)

    def op(self, rec) -> None:
        self._append(self.batch_events)
        self._timed(rec, self.write_op, self.engine.run_once,
                    lambda res: res.n_events == self.batch_events, events=self.batch_events)

    def verify(self, rec) -> None:
        ok = _table_rows(self.engine.lake.read()) == _oracle_rows(self.rows)
        rec.check("final_state", ok)

    def lake_usage(self) -> tuple[int, int]:
        return _data_bytes(self.engine.lake.root), self.source_bytes


class ReadMix(Workload):
    """One op = one cycle: merge, MV refresh, scan, lookups, changes feed,
    query sweep."""

    name = "read_mix"
    seed_events = 20_000
    fragment_merges = 8
    merge_events = 1_000
    n_convs, turns = 4_000, 8
    n_query_events, n_docs, n_vecs = 4_000, 500, 500
    warm_ops = 1
    write_op = "merge"
    events_alias = "merge_events_per_s"

    def build(self) -> None:
        import duckdb

        from kafka_connect_fs_spark.queries import ORACLES

        self.gen = Generator(self.seed, self.n_convs, self.turns)
        self.rows: list[dict] = []
        self.by_conv: dict[str, list[dict]] = {}
        self.live_by_conv: dict[str, int] = {}
        self.source_bytes = 0
        self.seed_batches = [
            self._events(n) for n in [self.seed_events] + [self.merge_events] * self.fragment_merges
        ]
        self.sf_dir = os.path.join(self.work, "sf")
        self.query_bytes = tables.write(
            self.sf_dir, self.seed, self.n_query_events, self.n_docs, self.n_vecs
        )
        con = duckdb.connect()
        for name in ("events", "documents", "embeddings"):
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.query_counts = {
            q: con.execute(f"SELECT count(*) FROM ({ORACLES[q]})").fetchone()[0]
            for q in QUERY_SUBSET
        }
        con.close()

    def warm_up(self) -> None:
        from pyspark.sql import functions as F

        from kafka_connect_fs_spark.plans.lake import LakeTable
        from kafka_connect_fs_spark.plans.materialized import IncrementalRollup

        self.table = LakeTable.create(
            self.spark, os.path.join(self.work, "table"),
            keys=["conv_id", "turn_idx"], ts_col="ts", n_buckets=N_BUCKETS,
            merge_mode="mor",
        )
        for i, rows in enumerate(self.seed_batches):
            self.table.merge(_events_frame(self.spark, rows), batch_id=f"seed-{i}")
        self.mv = IncrementalRollup(
            self.table, os.path.join(self.work, "mv"), group_cols=["conv_id"],
            aggs={"n_turns": F.count(F.lit(1)), "last_ts": F.max("ts")},
            n_buckets=N_BUCKETS,
        )
        self.mv.refresh()  # initial full build
        self.lookups = self.gen.hot_convs(2) + self.gen.cold_convs(2)
        self.query_s: dict[str, list[float]] = {q: [] for q in QUERY_SUBSET}
        for _ in range(self.warm_ops):
            self.op(None)
        for xs in self.query_s.values():
            xs.clear()

    def _events(self, n: int) -> list[dict]:
        """The next ``n`` events; the oracle state follows them."""
        from kafka_connect_fs_spark.testing.generator import expected_final_state

        rows = self.gen.events(n)
        self.rows.extend(rows)
        for r in rows:
            self.by_conv.setdefault(r["conv_id"], []).append(r)
        for conv in {r["conv_id"] for r in rows}:
            self.live_by_conv[conv] = len(expected_final_state(self.by_conv[conv]))
        self.source_bytes += len(jsonl(rows))
        return rows

    def _sweep(self) -> dict[str, int]:
        """``fn(spark, sf_dir).count()`` for each query of the subset."""
        import time

        from kafka_connect_fs_spark.queries import QUERIES

        counts = {}
        for q in QUERY_SUBSET:
            with self.span(f"query.{q}"):
                t0 = time.perf_counter()
                counts[q] = QUERIES[q](self.spark, self.sf_dir).count()
                self.query_s[q].append(time.perf_counter() - t0)
        return counts

    def op(self, rec) -> None:
        from pyspark.sql import functions as F

        frame = _events_frame(self.spark, self._events(self.merge_events))
        self._timed(
            rec, "merge",
            lambda: self.table.merge(frame, batch_id=f"mix-{len(self.rows)}"),
            lambda c: c.metrics["rows_written"] == self.merge_events,
            events=self.merge_events,
        )
        self._timed(rec, "mv_refresh", self.mv.refresh, lambda st: not st.noop)
        live = sum(self.live_by_conv.values())
        self._timed(rec, "scan", lambda: self.table.read().count(), lambda n: n == live)
        for conv in self.lookups:
            expect = _oracle_rows(self.by_conv.get(conv, []))
            self._timed(
                rec, "lookup",
                lambda: self.table.read_key(conv).select(
                    "conv_id", "turn_idx", "role", "text", "tool",
                    F.unix_millis("ts").alias("ts"),
                ).collect(),
                lambda got: {tuple(r) for r in got} == expect,
            )
        v = self.table.latest_version()
        for _ in range(3):
            self._timed(
                rec, "changes", lambda: self.table.read_changes(v - 1).count(),
                lambda n: n == self.merge_events,
            )
        self._timed(rec, "sweep", self._sweep, lambda counts: counts == self.query_counts)

    def verify(self, rec) -> None:
        from pyspark.sql import functions as F

        expect: dict[str, tuple[int, int]] = {}
        for conv, _turn, _role, _text, _tool, ts in _oracle_rows(self.rows):
            n, last = expect.get(conv, (0, ts))
            expect[conv] = (n + 1, max(last, ts))
        got = {
            r["conv_id"]: (r["n_turns"], r["last_ts"])
            for r in self.mv.read()
            .select("conv_id", "n_turns", F.unix_millis("last_ts").alias("last_ts"))
            .collect()
        }
        rec.check("mv_equals_recompute", got == expect)

    def lake_usage(self) -> tuple[int, int]:
        return _data_bytes(self.table.root), self.source_bytes


WORKLOADS = {w.name: w for w in (BulkLoad, TailAppend, ReadMix)}
