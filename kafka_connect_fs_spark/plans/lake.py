"""LakeTable — a minimal transactional, bucketed parquet table with MERGE.

Why this exists: BASELINE.json mandates "MERGE INTO an Iceberg table keyed
(conv_id, turn_idx) with last-writer-wins on ts". This sandbox ships no
iceberg-spark-runtime jar (and no network), so this module provides an
Iceberg-*shaped* table: an append-only JSON commit log with periodic state
checkpoints, immutable parquet data files hash-bucketed by key, snapshot
reads, merge-on-read MERGE, schema evolution (add / rename), and
idempotent commits keyed by ``batch_id``. On a cluster
with Iceberg available, ``IngestEngine`` can swap this for
``spark.sql("MERGE INTO ...")`` without touching callers.

Scale design (100 TB / 10^10 events):
- Merge-on-read: each batch appends ONE bucket-partitioned delta file
  set — write amplification O(batch), never O(table); readers LWW-resolve
  across files; compact() folds deltas down.
- The per-key LWW resolve is a declarative aggregate (partial agg map-side),
  so hot conv_ids do not skew the shuffle (see operators/lww.py); AQE
  additionally splits any residual skewed partitions.
- Commit metadata (file lists, row counts, per-file [ts_min, ts_max]
  footer stats) is O(files-touched), not O(rows); the ts stats give
  read_range() Iceberg-manifest-style file pruning by event time.
- Log replay is O(suffix): every _ckpt_every commits a _state checkpoint
  is written (the Delta checkpoint pattern), so a 10^5-commit daemon pays
  O(1) log reads per batch, not O(total commits).
- Atomicity: commits become visible via an O_EXCL create of the next log
  version — the standard lakehouse commit protocol (Delta/Iceberg use the
  same rename/put-if-absent primitive on object stores). Every write
  attempt lands in a unique data dir, so a losing concurrent writer can
  only leave vacuum-able orphans, never clobber committed files.

Read path: read(), read_key(), read_range() and the MV refresh differ
only in which files they select (all live files; a key's bucket under
each file's scheme plus key stats; ts stats). Everything after the
selection is one view (``_view``): prune columns, filter, LWW-resolve,
drop tombstones (a NULL op is an upsert) and internal columns. Bucket
selection (``_files_in_buckets``, ``_buckets_by_scheme``) and the commit
window (``_change_commits``) each have one helper too. Every file read
takes its schema from the commit log (``_read_files``), so planning one
opens no footer.

Reference parity notes: the reference emits records to Kafka at-least-once
(docs/source/faq.rst:7-17); this table upgrades that to exactly-once lake
state via idempotent MERGE + batch_id replay guard.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_fs_spark.functions.hashing import spark_xxhash64
from kafka_connect_fs_spark.operators.lww import lww_dedup
from kafka_connect_fs_spark.operators.partitioning import (
    dense_slot,
    exact_slot_rekey,
)

_LOG_DIR = "_log"
_DATA_DIR = "data"
_TABLE_META = "_table.json"
_OP_COL = "op"
_BUCKET_COL = "_bucket"
LINEAGE_COLS = ("_src_file", "_src_offset")


class ConcurrentCommitError(RuntimeError):
    pass


_INTEGRAL_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FRACTIONAL_RANK = {"float": 0, "double": 1}


def _promote(a: T.DataType, b: T.DataType) -> T.DataType:
    """Iceberg-style type promotion: widen within integrals
    (byte→short→int→long) and fractionals (float→double); an
    integral×fractional mix widens to double. Anything else is an
    incompatible evolution and raises."""
    if a == b:
        return a
    sa, sb = a.simpleString(), b.simpleString()
    if sa in _INTEGRAL_RANK and sb in _INTEGRAL_RANK:
        return a if _INTEGRAL_RANK[sa] >= _INTEGRAL_RANK[sb] else b
    if sa in _FRACTIONAL_RANK and sb in _FRACTIONAL_RANK:
        return a if _FRACTIONAL_RANK[sa] >= _FRACTIONAL_RANK[sb] else b
    numeric = set(_INTEGRAL_RANK) | set(_FRACTIONAL_RANK)
    if sa in numeric and sb in numeric:
        # integral×fractional widens to double ONLY when the integral side
        # fits a double's 53-bit mantissa (byte/short/int). bigint→double
        # silently corrupts ids above 2^53, which is why Iceberg forbids
        # long→double — so do we.
        int_side = sa if sa in _INTEGRAL_RANK else sb
        if _INTEGRAL_RANK[int_side] >= _INTEGRAL_RANK["bigint"]:
            raise ValueError(
                f"incompatible type evolution: {sa} vs {sb} "
                "(bigint×fractional would lose precision above 2**53)"
            )
        return T.DoubleType()
    raise ValueError(f"incompatible type evolution: {sa} vs {sb}")


def _iso(ts):
    """Timestamp → ISO string comparable with stored file stats (isoformat
    strings of equal precision compare correctly as strings; a space
    separator would sort after 'T', so normalize it). Non-str values
    without an isoformat (e.g. an int-epoch ts_col bound) pass through
    unchanged — the caller's comparison is guarded and falls back to
    reading the file when stats and bound are incomparable."""
    if isinstance(ts, str):
        return ts.replace(" ", "T", 1)
    if hasattr(ts, "isoformat"):
        return ts.isoformat()
    return ts


def _may_hold(a: dict, col: str, test) -> bool:
    """Whether a file may hold rows passing ``test(min, max)`` on its
    ``{col}_min``/``{col}_max`` footer stats. Unknown stats, and stats
    typed differently than the bound (incomparable), never prune."""
    lo, hi = a.get(f"{col}_min"), a.get(f"{col}_max")
    if lo is None or hi is None:
        return True
    try:
        return test(lo, hi)
    except TypeError:
        return True


@dataclass
class Commit:
    version: int
    batch_id: str | None
    added: list[dict]  # [{path, bucket, scheme, rows, …footer stats}]
    removed: list[str]
    schema_json: str | None
    renames: dict[str, str] = field(default_factory=dict)
    app_metadata: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)
    # bucket-spec evolution (Iceberg partition-spec evolution analog): a
    # metadata-only commit carrying n_buckets switches the CURRENT write
    # scheme; files keep the scheme they were written under (per-file
    # "scheme" in added entries), so existing data stays valid
    n_buckets: int | None = None

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Commit":
        return Commit(**json.loads(s))


@dataclass
class _State:
    """Replayed log state. ``version`` is the last commit applied."""

    version: int = -1
    live: dict = field(default_factory=dict)  # relpath -> added-entry dict
    schema_json: str | None = None
    renames: dict = field(default_factory=dict)
    batch_ids: dict = field(default_factory=dict)  # batch_id -> version
    n_buckets: int | None = None  # current scheme (None = table default)

    def copy(self) -> "_State":
        return _State(
            self.version, dict(self.live), self.schema_json,
            dict(self.renames), dict(self.batch_ids), self.n_buckets,
        )


class LakeTable:
    """A keyed, bucketed, transactional parquet table supporting MERGE.

    Keys + bucketing spec are fixed at create time (like an Iceberg
    partition spec); schema may evolve (add columns, rename columns).

    Merge-on-read: merge appends one delta file set per batch (write
    amplification O(batch), never O(table)); reads resolve LWW across
    base+delta files; ``compact()`` folds deltas back into one resolved
    file per bucket. This is the shape a 10^10-event steady-state CDC
    stream needs (Iceberg's MoR row-level deletes have the same shape).
    """

    _ckpt_every = 25  # commits between _state checkpoints (Delta: 10)

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        meta_path = os.path.join(root, _TABLE_META)
        with open(meta_path) as f:
            meta = json.load(f)
        self.keys: list[str] = meta["keys"]
        self.ts_col: str = meta["ts_col"]
        # create-time scheme; the CURRENT scheme may differ after
        # set_n_buckets — self.n_buckets tracks it, refreshed on every
        # state replay (each operation snapshots state before acting)
        self._base_n_buckets: int = meta["n_buckets"]
        self.n_buckets: int = meta["n_buckets"]
        self._mem: _State | None = None
        self._commit_cache: dict[str, Commit] = {}
        # eager replay on open: a table reopened after set_n_buckets must
        # expose the EVOLVED scheme immediately (O(checkpoint + suffix),
        # same cost the first operation would pay anyway)
        self._state_full()

    # ---------------------------------------------------------------- create
    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        keys: Sequence[str],
        ts_col: str,
        n_buckets: int = 16,
        merge_mode: str = "mor",
    ) -> "LakeTable":
        # the keyword stays for callers that still pass "mor"
        if merge_mode != "mor":
            raise ValueError(
                f"merge_mode must be 'mor', got {merge_mode!r}: every merge "
                "appends a delta; call compact() after merge() for one "
                "resolved file per bucket"
            )
        os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA_DIR), exist_ok=True)
        meta_path = os.path.join(root, _TABLE_META)
        if not os.path.exists(meta_path):
            tmp = meta_path + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "keys": list(keys),
                        "ts_col": ts_col,
                        "n_buckets": n_buckets,
                        # older builds read a missing key as copy-on-write
                        # and would skip the LWW resolve on read
                        "merge_mode": "mor",
                    },
                    f,
                )
            os.rename(tmp, meta_path)
        return LakeTable(spark, root)

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, _TABLE_META))

    # ------------------------------------------------------------------ log
    def _log_path(self, version: int) -> str:
        return os.path.join(self.root, _LOG_DIR, f"{version:020d}.json")

    def _list_commit_names(self) -> list[str]:
        d = os.path.join(self.root, _LOG_DIR)
        return sorted(n for n in os.listdir(d) if re.fullmatch(r"\d{20}\.json", n))

    def _load_commit(self, name: str) -> Commit:
        """Parse one commit file, cached (commit files are immutable)."""
        c = self._commit_cache.get(name)
        if c is None:
            with open(os.path.join(self.root, _LOG_DIR, name)) as f:
                c = self._commit_cache[name] = Commit.from_json(f.read())
        return c

    def commits(self) -> list[Commit]:
        """Full replay (history/debug path — hot paths use _state_full,
        which starts from a checkpoint and reads only the log suffix)."""
        return [self._load_commit(n) for n in self._list_commit_names()]

    def latest_version(self) -> int:
        names = self._list_commit_names()
        return int(names[-1][:20]) if names else -1

    def get_commit_by_batch_id(self, batch_id: str) -> Commit | None:
        v = self._state_full().batch_ids.get(batch_id)
        return None if v is None else self._load_commit(f"{v:020d}.json")

    # ------------------------------------------------------ state replay
    @staticmethod
    def _apply_commit(st: _State, c: Commit) -> None:
        for p in c.removed:
            st.live.pop(p, None)
        for a in c.added:
            st.live[a["path"]] = a
        if c.schema_json:
            st.schema_json = c.schema_json
        st.renames.update(c.renames or {})
        if c.batch_id is not None:
            st.batch_ids[c.batch_id] = c.version
        if c.n_buckets:
            st.n_buckets = c.n_buckets
        st.version = c.version

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(self.root, _LOG_DIR, f"{version:020d}.ckpt.json")

    def _latest_ckpt(self, max_version: int) -> _State | None:
        d = os.path.join(self.root, _LOG_DIR)
        cands = sorted(
            (
                int(m.group(1))
                for n in os.listdir(d)
                if (m := re.fullmatch(r"(\d{20})\.ckpt\.json", n))
                and int(m.group(1)) <= max_version
            ),
            reverse=True,
        )
        for v in cands:
            try:
                with open(self._ckpt_path(v)) as f:
                    raw = json.load(f)
                # subscripting INSIDE the try: a checkpoint that is valid
                # JSON but missing a field (older writer, partial repair)
                # must also fall back, not crash every read
                return _State(
                    version=raw["version"], live=raw["live"],
                    schema_json=raw["schema_json"], renames=raw["renames"],
                    batch_ids=raw["batch_ids"],
                    # .get: checkpoints written before bucket-spec evolution
                    n_buckets=raw.get("n_buckets"),
                )
            except (OSError, json.JSONDecodeError, KeyError):
                continue  # torn/partial checkpoint → try the previous one
        return None  # no usable checkpoint → full log replay

    def _state_full(self, at_version: int | None = None) -> _State:
        """Replayed state with O(suffix) log reads: start from the
        in-memory cache (a long-running daemon replays only commits that
        appeared since its last batch) or the newest on-disk checkpoint
        (cold start reads ≤ _ckpt_every commit files, the Delta-checkpoint
        pattern), never the whole log."""
        names = self._list_commit_names()
        if at_version is not None:
            names = [n for n in names if int(n[:20]) <= at_version]
        target = int(names[-1][:20]) if names else -1
        base: _State | None = None
        if self._mem is not None and self._mem.version <= target:
            base = self._mem
        if base is None:
            base = self._latest_ckpt(target) or _State()
        if base.version < target:
            st = base.copy()
            for n in names:
                if int(n[:20]) > st.version:
                    self._apply_commit(st, self._load_commit(n))
        else:
            st = base
        if at_version is None and (self._mem is None or st.version >= self._mem.version):
            self._mem = st
            self.n_buckets = st.n_buckets or self._base_n_buckets
        return st

    def _state(
        self, at_version: int | None = None
    ) -> tuple[dict[str, dict], str | None, dict[str, str]]:
        """(live files by relpath, latest schema json, renames);
        ``at_version`` stops the replay there (time travel)."""
        st = self._state_full(at_version)
        return st.live, st.schema_json, st.renames

    def _write_commit(self, commit: Commit) -> None:
        path = self._log_path(commit.version)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(commit.to_json())
            f.flush()
            os.fsync(f.fileno())
        try:
            # atomic create-with-content (no window where the log entry
            # exists empty); loser of a version race gets EEXIST — the same
            # put-if-absent primitive lakehouse commit protocols rely on
            os.link(tmp, path)
        except FileExistsError:
            raise ConcurrentCommitError(f"version {commit.version} already committed")
        finally:
            os.unlink(tmp)
        if commit.version > 0 and commit.version % self._ckpt_every == 0:
            self._write_checkpoint()

    def _write_checkpoint(self) -> None:
        """Snapshot the replayed state next to the log (crash-safe: a torn
        checkpoint is ignored and replay falls back to the previous one)."""
        st = self._state_full()
        path = self._ckpt_path(st.version)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": st.version, "live": st.live,
                    "schema_json": st.schema_json, "renames": st.renames,
                    "batch_ids": st.batch_ids, "n_buckets": st.n_buckets,
                },
                f,
            )
        os.replace(tmp, path)
        # retention: keep the newest two checkpoints (the previous one is
        # the fallback if this write turns out torn after a crash); older
        # ones only duplicate state that the suffix replay reconstructs
        d = os.path.join(self.root, _LOG_DIR)
        ckpts = sorted(
            n for n in os.listdir(d) if re.fullmatch(r"\d{20}\.ckpt\.json", n)
        )
        for n in ckpts[:-2]:
            try:
                os.unlink(os.path.join(d, n))
            except OSError:
                pass

    # ----------------------------------------------------------------- read
    def _bucket_expr(self, col: str, n: int | None = None) -> F.Column:
        # xxhash64 is a fixed-seed deterministic 64-bit hash (same value on
        # every executor / run), so bucket assignment is stable across
        # commits. ``n`` pins the scheme captured by the caller (bucket-spec
        # evolution: the expr must match the scheme the files get TAGGED
        # with even if a concurrent set_n_buckets lands mid-operation).
        return F.pmod(
            F.xxhash64(F.col(col)), F.lit(n or self.n_buckets)
        ).cast("int")

    def _read_files(
        self, relpaths: Sequence[str], st: _State | None = None
    ) -> DataFrame | None:
        """The stored rows of ``relpaths`` (op, lineage and ``_bucket``
        included), read with the schema ``st`` committed (default: the
        latest state) and its renames folded. The log's schema is the
        physical union of every file: pre-rename names, added columns and
        widened types. Spark reads a file lacking a column as NULLs and
        upcasts a narrow numeric type, so no footer is read to plan it.
        Time travel passes the state of its version, so neither a column
        added nor a rename made after it shows up.

        A rename's target can be physical before the log names it: a
        maintenance rewrite after rename_column writes the column under
        its new name but commits no schema. Each such target is read too,
        typed like its source (next to it, so the folded column keeps the
        source's place), so the fold below picks its values up."""
        if not relpaths:
            return None
        st = st or self._state_full()
        fields = [
            T.StructField(f.name, f.dataType, True)
            for f in T.StructType.fromJson(json.loads(st.schema_json)).fields
        ]
        for old, new in st.renames.items():
            names = [f.name for f in fields]
            if new not in names and old in names:
                i = names.index(old)
                fields.insert(i + 1, T.StructField(new, fields[i].dataType, True))
        schema = T.StructType(
            fields + [T.StructField(_BUCKET_COL, T.IntegerType(), True)]
        )
        paths = [os.path.join(self.root, _DATA_DIR, p) for p in relpaths]
        df = self.spark.read.schema(schema).parquet(*paths)
        for old, new in st.renames.items():
            if old in df.columns and new in df.columns:
                # files written before AND after the rename coexist (renames
                # are metadata-only; compaction rewrites buckets lazily): fold
                # the old physical column into the new one
                df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(old)
            elif old in df.columns:
                df = df.withColumnRenamed(old, new)
        return df

    def _scheme(self, a: dict) -> int:
        # files written before bucket-spec evolution carry no scheme tag
        return a.get("scheme", self._base_n_buckets)

    def _files_in_buckets(self, live: dict, by_scheme: dict) -> list[str]:
        """The live files holding the buckets of ``by_scheme`` ({scheme:
        bucket ids}), each file matched under the scheme it was WRITTEN
        with: after ``set_n_buckets`` a key's bucket id differs between
        old- and new-scheme files."""
        return [
            p for p, a in live.items()
            if a["bucket"] in by_scheme.get(self._scheme(a), ())
        ]

    def _buckets_by_scheme(self, keys: DataFrame, schemes) -> dict[int, set[int]]:
        """{scheme: the buckets ``keys``' first-key values hash to under
        it}, for every scheme in ``schemes``, in ONE small aggregate (≤
        n_buckets ints per scheme reach the driver); no job when
        ``schemes`` is empty."""
        if not schemes:
            return {}
        row = keys.agg(
            *[
                F.collect_set(self._bucket_expr(self.keys[0], s)).alias(f"s{s}")
                for s in schemes
            ]
        ).collect()[0]
        return {s: set(row[f"s{s}"]) for s in schemes}

    def _table_schema(self, st: _State) -> T.StructType | None:
        """``st``'s committed schema with its renames applied, None if
        never written."""
        if not st.schema_json:
            return None
        fields = T.StructType.fromJson(json.loads(st.schema_json)).fields
        for old, new in st.renames.items():
            names = [f.name for f in fields]
            if old in names and new in names:  # folded into ``new``
                fields = [f for f in fields if f.name != old]
            elif old in names:
                fields[names.index(old)].name = new
        return T.StructType(fields)

    def _empty_frame(self, st: _State) -> DataFrame:
        # a never-written table has no schema: just the key columns
        schema = self._table_schema(st) or T.StructType(
            [T.StructField(k, T.StringType()) for k in self.keys]
        )
        # limit(0) lets the optimizer fold the frame (and any projection or
        # filter over it) to an empty LocalRelation: collecting it runs no job
        return self.spark.createDataFrame([], schema).limit(0)

    def snapshot(self, at_version: int | None = None) -> DataFrame:
        """Full table including lineage + bucket columns; ``at_version``
        reads the table as of that commit (time travel — every commit's file
        set is reconstructable until vacuum() removes dead files)."""
        st = self._state_full(at_version)
        df = self._read_files(list(st.live), st)
        return self._empty_frame(st) if df is None else df

    def _resolve(self, df: DataFrame) -> DataFrame:
        """Read-time LWW resolve: one row per key across base+delta files
        (map-side partial max_by — hot keys don't skew, see
        operators/lww.py). Files that are already resolved (compaction
        output, or a table an older build wrote copy-on-write) come out
        unchanged."""
        if not all(k in df.columns for k in self.keys) or self.ts_col not in df.columns:
            return df  # no key/ts columns to resolve on
        return lww_dedup(df, self.keys, self.ts_col)

    def _view(
        self,
        st: _State,
        files: Sequence[str],
        where: Column | None = None,
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """The user-facing view of ``files`` under ``st``'s renames:
        LWW-resolved, tombstones filtered (null-safe: a NULL ``op`` is an
        upsert), lineage/bucket/op dropped.

        ``where`` filters rows BEFORE the resolve, so the LWW shuffle
        carries only the matching rows. ``columns`` prunes the scan below
        the resolve too: the MoR aggregate packs the whole row into a
        struct (operators/lww.py), which blocks Catalyst's column pruning,
        so only a projection before it reaches the parquet ReadSchema
        (keys, ts and the lineage tie-break are kept for the resolve, then
        dropped unless requested). An empty selection is ``st``'s empty
        frame with the same columns (callers union per-window pages) and
        plans no read or resolve."""
        df = self._read_files(files, st)
        selected = df is not None
        if not selected:
            df = self._empty_frame(st)
        if columns is not None:
            missing = [c for c in columns if c not in df.columns]
            if missing:
                raise ValueError(f"columns=...: not in table: {missing}")
            # keep only internals the frame actually has: a never-written
            # table's placeholder frame is keys-only (no ts/lineage)
            need = [
                c
                for c in dict.fromkeys(
                    [*columns, *self.keys, self.ts_col, *LINEAGE_COLS, _OP_COL]
                )
                if c in df.columns
            ]
            df = df.select(*need)
        if selected:
            if where is not None:
                df = df.filter(where)
            df = self._resolve(df)
            if _OP_COL in df.columns:
                df = df.filter(~F.col(_OP_COL).eqNullSafe(F.lit("delete")))
        df = df.drop(*LINEAGE_COLS, _BUCKET_COL, _OP_COL)
        return df.select(*columns) if columns is not None else df

    def read(
        self, at_version: int | None = None, columns: Sequence[str] | None = None
    ) -> DataFrame:
        """User-facing view: LWW-resolved, tombstones filtered,
        lineage/bucket dropped; ``at_version`` reads the table as of that
        commit. ``columns`` prunes the parquet scan below the resolve (see
        ``_view``): at 10^10 rows, one column family instead of the table."""
        st = self._state_full(at_version)
        return self._view(st, list(st.live), columns=columns)

    def _key_int_width(self) -> int:
        """Byte width Spark's XxHash64 uses for the first key column: 4
        for byte/short/int/boolean, 8 for long (and for string/binary
        keys, where the width argument is ignored)."""
        sch = self.current_schema()
        if sch is not None and self.keys[0] in sch.fieldNames():
            t = sch[self.keys[0]].dataType.simpleString()
            if t in ("tinyint", "smallint", "int", "boolean"):
                return 4
        return 8

    def read_key(self, key_value) -> DataFrame:
        """Bucket-pruned point lookup: reads ONLY the files of the bucket
        `key_value` hashes to — O(table/n_buckets) I/O instead of a full
        scan (the physical benefit of the bucket spec, same as Iceberg
        bucket-partition pruning). The bucket id comes from the driver-side
        xxhash64 twin (functions/hashing.py) — no Spark job per lookup.
        The twin must hash with the WIDTH of the key column: Spark's
        XxHash64 runs Byte/Short/Int/Boolean through its 4-byte hashInt
        path and Long through hashLong, so an int-keyed table buckets
        differently than a bigint-keyed one.

        Bucket-spec evolution: each file is pruned under the scheme it
        was WRITTEN under (per-file ``scheme`` in the manifest) — after
        ``set_n_buckets`` the lookup stays exact across old- and
        new-scheme files alike."""
        h = spark_xxhash64(key_value, self._key_int_width())

        st = self._state_full()
        schemes = {self._scheme(a) for a in st.live.values()}
        # second-level pruning: per-file [key_min, key_max] footer stats
        # (tight after key-clustered compaction) skip the bucket's sibling
        # files too
        files = [
            p
            for p in self._files_in_buckets(st.live, {s: {h % s} for s in schemes})
            if _may_hold(st.live[p], "key", lambda lo, hi: lo <= key_value <= hi)
        ]
        return self._view(st, files, where=F.col(self.keys[0]) == F.lit(key_value))

    def delete_where(
        self,
        condition,
        batch_id: str | None = None,
        needed_columns: Sequence[str] | None = None,
    ) -> Commit | None:
        """Predicate delete — the Iceberg ``DELETE FROM t WHERE ...``
        analog, and the transcript lake's compliance/retention op
        ("erase conversation X", "drop turns older than Y"): tombstone
        every key whose CURRENT resolved row matches ``condition`` (a
        Column or SQL string over the user-facing view).

        Each tombstone carries the matched row's own ts plus one tick
        (1µs for timestamps, +1 for numeric ts), so it WINS last-writer-
        wins against the row it erases regardless of lineage tie-breaks,
        while events that genuinely arrive later still supersede it —
        point-in-time delete semantics, not a permanent key ban.

        ``needed_columns``: the columns ``condition`` references. When
        omitted they are DERIVED from the condition's expression tree
        (resolved against the current schema), so the matching scan
        prunes to just those plus keys/ts by default (see
        read(columns=...)) — a retention cron gets the pruned parquet
        ReadSchema without the caller having to spell the columns out.
        Pass them explicitly to override; derivation failure falls back
        to the full row. Runs through merge(), so it inherits idempotent
        batch_id replay and the commit-race retry.

        Returns None (no commit) when the table has never been written —
        a retention cron against a fresh table is a no-op, not a crash.
        Requires a timestamp or INTEGRAL/decimal ``ts_col``: a string ts
        has no type-safe "+1 tick" (string + 1 casts to double and
        yields NULL tombstone timestamps that silently LOSE the LWW they
        must win), and for float/double ts the +1 is wrong twice over —
        it out-ranks genuinely-later events within 1 unit, and at large
        magnitudes ts+1 == ts (precision-absorbed), so the tombstone
        ties/loses LWW and the delete silently fails."""
        tombstones = self._delete_tombstones(condition, needed_columns)
        if tombstones is None:
            return None  # never-written (or fully vacuumed) table
        return self.merge(tombstones, batch_id=batch_id)

    def _referenced_columns(self, cond) -> list[str] | None:
        """Column names a filter Column references, resolved against the
        current table schema (None when resolution fails — the caller
        then reads the full row). Driver-side only: the probe frame is an
        empty local relation, no job runs."""
        try:
            schema = self.current_schema()
            if schema is None:
                return None
            probe = self.spark.createDataFrame([], schema).filter(cond)
            refs = (
                probe._jdf.queryExecution()
                .analyzed()
                .expressions()
                .apply(0)
                .references()
                .toList()
            )
            return [refs.apply(i).name() for i in range(refs.size())]
        except Exception:
            return None

    def _delete_tombstones(
        self, condition, needed_columns: Sequence[str] | None = None
    ) -> DataFrame | None:
        """The tombstone frame delete_where merges (exposed separately so
        tests can assert the match scan's pruned ReadSchema)."""
        live, _, _ = self._state()
        if not live:
            return None
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if needed_columns is None:
            needed_columns = self._referenced_columns(cond)
        cols = None
        if needed_columns is not None:
            cols = list(dict.fromkeys([*needed_columns, *self.keys, self.ts_col]))
        snap = self.read(columns=cols).filter(cond)
        ts_type = dict(snap.dtypes)[self.ts_col]
        if ts_type.startswith("timestamp"):
            bump = F.expr("INTERVAL 1 MICROSECOND")
        elif ts_type in ("int", "bigint", "smallint", "tinyint", "long") or (
            ts_type.startswith("decimal")
        ):
            bump = F.lit(1)
        else:
            raise ValueError(
                f"delete_where needs a timestamp or numeric (integral/"
                f"decimal, not float — ts+1 is precision-absorbed at large "
                f"magnitudes) ts column to bump past the matched row; "
                f"ts_col {self.ts_col!r} is {ts_type!r} — write explicit "
                f"tombstones via merge() instead"
            )
        return snap.select(
            *self.keys,
            (F.col(self.ts_col) + bump).alias(self.ts_col),
            F.lit("delete").alias(_OP_COL),
        )

    def read_range(
        self, ts_from=None, ts_to=None, columns: Sequence[str] | None = None
    ) -> DataFrame:
        """Event-time range read pruned at the FILE level: commits record
        per-file [ts_min, ts_max] from the parquet footers (the manifest
        column stats Iceberg keeps), so a query over the last day of a
        10^10-row table opens only the delta files that day touched —
        that's the temporal dimension of the layout, without making day a
        *partition of the key space* (which would break cross-day LWW:
        a key's versions must stay co-located by bucket).

        Rows are filtered to ts_from <= ts < ts_to; versions are resolved
        among the in-range files — i.e. "latest state of the
        keys as touched within the window", the incremental-export
        semantics. Files with unknown stats are conservatively read.

        ``columns`` prunes the scan below the LWW resolve exactly like
        ``read(columns=...)`` — an incremental export of two columns
        should not read twenty."""
        st = self._state_full()
        ts = F.col(self.ts_col)
        where = F.lit(True)
        if ts_from is not None:
            where &= ts >= F.lit(ts_from)
        if ts_to is not None:
            where &= ts < F.lit(ts_to)
        return self._view(
            st, self.files_in_range(ts_from, ts_to), where=where, columns=columns
        )

    def read_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change Data Feed: the change events committed in versions
        (from_version, to_version] — the downstream-consumer API (a second
        pipeline tails THIS table like the engine tails files).

        This is metadata-only: each merge commit's delta files ARE its
        change batch (op column included, deletes as op='delete'),
        so serving changes costs one file-list lookup plus a scan of
        exactly those files — no diffing of snapshots. Maintenance commits
        (compaction/expiry, batch_id None) rewrite physical layout without
        new logical changes and are skipped. Emitted columns gain
        `_commit_version` and `_batch_id` lineage.

        Vacuum interplay: change files of versions older than the latest
        snapshot stay on disk until vacuum() removes unreferenced files —
        use vacuum(retain_versions=N) to keep a changelog window readable.
        A batch commit that removed files is a copy-on-write rewrite by an
        older build: its files are whole resolved buckets, not changes, so
        it raises instead of serving them."""
        to_v = self.latest_version() if to_version is None else to_version
        return self._changes(self._change_commits(from_version, to_v))

    def _change_commits(self, lo: int, hi: int) -> list[Commit]:
        """The batch commits in versions (lo, hi]: the commit window
        read_changes serves and an MV refresh absorbs. Versions are
        filtered by FILENAME before anything is parsed, so a cold tailer
        against a 10^5-commit log reads O(window) commit files."""
        window = []
        for name in self._list_commit_names():
            if not lo < int(name[:20]) <= hi:
                continue
            c = self._load_commit(name)
            if c.batch_id is None or not c.added:
                continue  # maintenance commit: no new logical changes
            if c.removed:
                raise ValueError(
                    f"read_changes: batch commit {c.version} rewrote whole "
                    "buckets (copy-on-write by an older build); its files "
                    "are not a change set"
                )
            window.append(c)
        return window

    def _changes(self, window: list[Commit]) -> DataFrame:
        """The change events of ``window`` (see read_changes), every
        commit's files read with the latest committed schema."""
        st = self._state_full()
        if not window:
            # the committed schema plus the change columns, the same as a
            # non-empty poll's, so a consumer unioning polls never hits a
            # schema clash; an idle poll opens no file and runs no job
            empty = self._empty_frame(st)
            if _OP_COL not in empty.columns:  # never written: keys only
                empty = empty.withColumn(_OP_COL, F.lit(None).cast("string"))
            return empty.withColumn(
                "_commit_version", F.lit(0).cast("long")
            ).withColumn("_batch_id", F.lit(""))
        parts = [
            self._read_files([a["path"] for a in c.added], st)
            .withColumn("_commit_version", F.lit(c.version).cast("long"))
            .withColumn("_batch_id", F.lit(c.batch_id))
            for c in window
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.drop(_BUCKET_COL)

    def files_in_range(self, ts_from=None, ts_to=None) -> list[str]:
        """The live files read_range would open (exposed for tests/metrics)."""
        live, _, _ = self._state()

        def overlaps(lo, hi) -> bool:
            return (ts_to is None or lo < _iso(ts_to)) and (
                ts_from is None or hi >= _iso(ts_from)
            )

        return sorted(p for p, a in live.items() if _may_hold(a, "ts", overlaps))

    # ---------------------------------------------------------------- merge
    def _placement(
        self, slot: Column, n_slots: int, spread: int = 1
    ) -> tuple[int, Column]:
        """(task count, repartition column) that place each of ``n_slots``
        exact slots (``slot`` in [0, n_slots)) whole on one task: slot s
        goes to task s mod n. n is the host's slot count
        (``defaultParallelism``) or ``spread`` if larger, and never more
        than ``n_slots``, so ``spread`` consecutive slots always land in
        distinct tasks. Hashing k slot ids into k partitions would leave
        only ~0.63k tasks non-empty (operators/partitioning.py); one task
        per slot pays a task launch and deserialization per bucket (16
        buckets on 4 cores wrote in 4 waves of tasks). The cost: a hot
        bucket shares its task with its n_slots/n - 1 neighbours instead
        of the other cores picking them up (a 1M-row batch with a quarter
        of its rows in one bucket wrote ~2% slower; a uniform one did not
        slow down); ``write_salt`` spreads a hot bucket."""
        n = min(n_slots, max(self.spark.sparkContext.defaultParallelism, spread))
        return n, exact_slot_rekey(F.pmod(slot, F.lit(n)), n)

    def merge(
        self,
        source: DataFrame,
        batch_id: str | None = None,
        app_metadata: dict | None = None,
        write_salt: int = 1,
        precommit_check=None,
    ) -> Commit:
        """Idempotent MERGE: upsert rows of ``source`` keyed ``self.keys``
        with last-writer-wins on ``self.ts_col``; rows with ``op='delete'``
        remove the key (as tombstones that keep winning LWW), and a NULL
        or missing ``op`` is stored as ``'upsert'``.

        Merge-on-read: ONE bucket-partitioned delta write, no target read,
        no rewrite — write amplification is O(batch) however large the
        table. Readers resolve LWW across files; compact() folds deltas
        down (merge() then compact() leaves one resolved file per bucket).

        ``write_salt`` > 1 spreads each bucket's WRITE across that many
        tasks (deterministic salt from the full key) — the north-rule hot
        conv_id control for the write path: a batch where one bucket holds
        most rows otherwise serializes its write into one task. LWW itself
        never needs the salt (map-side partial agg). Extra files per
        bucket are folded by compact().

        Replay guard: if ``batch_id`` was already committed, returns the
        existing commit without touching data — this is what makes
        crash-recovery exactly-once (engine re-runs a batch, merge no-ops).

        ``precommit_check`` runs after the data write and before the commit
        becomes visible: raising there leaves only vacuum-able orphans, and
        a dict it returns replaces ``app_metadata`` — for metadata that
        only the write itself can produce (the engine's offsets). A
        returned commit whose ``app_metadata`` differs came from the replay
        or split-brain guard: another run committed this ``batch_id``.
        """
        salt = max(1, int(write_salt))
        if batch_id is not None:
            existing = self.get_commit_by_batch_id(batch_id)
            if existing is not None:
                return existing

        # a missing or NULL op is an upsert
        op = F.col(_OP_COL) if _OP_COL in source.columns else F.lit(None)
        src = source.withColumn(_OP_COL, F.coalesce(op, F.lit("upsert")))
        for c in LINEAGE_COLS:
            if c not in src.columns:
                src = src.withColumn(
                    c, F.lit(0).cast("long") if c.endswith("offset") else F.lit("")
                )
        # refresh + capture the CURRENT bucket scheme once: the stamp, the
        # write placement and the manifest scheme tag must all agree even
        # if a concurrent set_n_buckets lands mid-merge
        st = self._state_full()
        nb = self.n_buckets
        src = src.withColumn(_BUCKET_COL, self._bucket_expr(self.keys[0], nb))
        version = st.version + 1
        # unique dir per ATTEMPT, not per version: two writers racing to the
        # same version must never write into the same directory (the loser's
        # mode('overwrite') would delete the winner's already-committed
        # files before losing the log race); losers leave only orphan files
        # that vacuum() removes
        cdir_rel = f"c{version:020d}-{uuid.uuid4().hex[:8]}"
        cdir = os.path.join(self.root, _DATA_DIR, cdir_rel)
        if salt > 1:
            # deterministic salt over (key, ts): a hot bucket's rows —
            # including many versions of ONE hot key — spread over `salt`
            # write tasks instead of serializing into one
            slot = F.col(_BUCKET_COL) * F.lit(salt) + F.pmod(
                F.xxhash64(*[F.col(k) for k in self.keys], F.col(self.ts_col)),
                F.lit(salt),
            )
            n_slots = nb * salt
        else:
            slot = F.col(_BUCKET_COL)
            n_slots = nb
        # exact slot placement, whole slots per task, as many tasks as the
        # host has slots (see _placement); a bucket's salt slots land in
        # distinct tasks, so a salted write keeps one file per salt slot
        n_tasks, place = self._placement(slot, n_slots, spread=salt)
        (
            src.withColumn("_pb", F.col(_BUCKET_COL))
            .repartition(n_tasks, place)
            .write.partitionBy("_pb")
            .mode("overwrite")
            .parquet(cdir)
        )
        added = self._scan_written(cdir, cdir_rel, nb)
        if precommit_check is not None:
            app_metadata = precommit_check() or app_metadata
        # retry through commit races: a separate maintenance process
        # (compaction/expiry) landing a commit between this merge's state
        # read and its commit write is the NORMAL deployment, not an
        # error. A delta only ADDS files and is version-independent, so
        # re-attempting at the new head is always safe — only the schema
        # union must be recomputed against the new head's schema (the
        # concurrent commit may itself have evolved it).
        for _attempt in range(4):
            commit = Commit(
                version=version,
                batch_id=batch_id,
                added=added,
                removed=[],
                schema_json=self._union_schema_json(
                    st.schema_json, src.drop(_BUCKET_COL).schema
                ),
                app_metadata=app_metadata or {},
                metrics={
                    "affected_buckets": len({a["bucket"] for a in added}),
                    "rows_written": sum(a["rows"] for a in added),
                    "files_added": len(added),
                    "files_removed": 0,
                    "write_salt": salt,
                    "commit_retries": _attempt,
                },
            )
            try:
                self._write_commit(commit)
                return commit
            except ConcurrentCommitError:
                st = self._state_full()
                # split-brain guard: if the racing writer committed THIS
                # batch_id (two daemons replaying the same batch), honor
                # the exactly-once-per-batch_id log invariant — return the
                # existing commit instead of logging the batch twice; this
                # write's files are vacuum-able orphans
                existing = self.get_commit_by_batch_id(batch_id)
                if existing is not None:
                    return existing
                version = st.version + 1
        raise ConcurrentCommitError(
            "merge commit lost the race 4 times in a row"
        )

    @staticmethod
    def _union_schema_json(prev_json: str | None, new: T.StructType) -> str:
        """Evolved table schema = previous fields + newly-seen fields, with
        same-name numeric fields WIDENED per _promote (a delta batch
        missing an optional column must not shrink the table schema, and a
        batch arriving with long where the table has int widens the
        column — old files upcast at read)."""
        if not prev_json:
            return new.json()
        prev = T.StructType.fromJson(json.loads(prev_json))
        by_name = {f.name: f for f in new.fields}
        fields = []
        for f in prev.fields:
            nf = by_name.pop(f.name, None)
            if nf is not None and nf.dataType != f.dataType:
                fields.append(T.StructField(f.name, _promote(f.dataType, nf.dataType), True))
            else:
                fields.append(f)
        fields.extend(f for f in new.fields if f.name in by_name)
        return T.StructType(fields).json()

    def _scan_written(
        self, cdir: str, cdir_rel: str, scheme: int | None = None
    ) -> list[dict]:
        """Enumerate data files of a write with per-file row counts (from
        parquet footers) and bucket ids (from partition dirs) — the
        per-partition lineage record. ``scheme`` is the bucket count the
        writer assigned buckets under (callers capture it at stamp time);
        read_key prunes each file under ITS recorded scheme. At cluster
        scale this comes from the executor write-task commit messages
        instead of a driver scan."""
        import pyarrow.parquet as pq

        scheme = scheme or self.n_buckets
        added = []
        for dirpath, _, files in os.walk(cdir):
            m = re.search(r"_pb=(\d+)", dirpath)
            if not m:
                continue
            bucket = int(m.group(1))
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, os.path.join(self.root, _DATA_DIR))
                md = pq.ParquetFile(full).metadata
                ts_min, ts_max = self._col_stats(md, self.ts_col)
                key_min, key_max = self._col_stats(md, self.keys[0])
                added.append(
                    {
                        "path": rel, "bucket": bucket, "scheme": scheme,
                        "rows": md.num_rows,
                        "ts_min": ts_min, "ts_max": ts_max,
                        "key_min": key_min, "key_max": key_max,
                    }
                )
        return sorted(added, key=lambda a: a["path"])

    def _col_stats(self, md, col: str) -> tuple:
        """Per-file [min, max] of a column from parquet footer row-group
        stats — the manifest column-stats Iceberg keeps. Enables
        read_range() (ts) and read_key() (first key, after key-clustered
        compaction) to prune whole files. Parquet writers keep truncated
        string bounds valid (min rounded down, max rounded up), so pruning
        with them is always safe."""
        idx = next(
            (i for i in range(md.num_columns) if md.schema.column(i).path == col),
            None,
        )
        if idx is None:
            return None, None
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None, None  # unknown → caller must not prune
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            return None, None
        if hasattr(lo, "isoformat"):
            return lo.isoformat(), hi.isoformat()
        if isinstance(lo, bytes):
            try:
                return lo.decode("utf-8"), hi.decode("utf-8")
            except UnicodeDecodeError:
                return None, None
        return lo, hi

    # ------------------------------------------------------ schema evolution
    def rename_column(self, old: str, new: str) -> Commit:
        """Metadata-only rename (like Iceberg field-id rename — no rewrite).
        Key and ts columns are frozen in _table.json and referenced by
        every merge/read plan — renaming one would brick the table."""
        if old in self.keys or old == self.ts_col:
            raise ValueError(
                f"cannot rename {old!r}: key/ts columns are fixed at table "
                "creation (merge, read_key and LWW all reference them)"
            )
        version = self.latest_version() + 1
        commit = Commit(
            version=version,
            batch_id=None,
            added=[],
            removed=[],
            schema_json=None,
            renames={old: new},
        )
        self._write_commit(commit)
        return commit

    def set_n_buckets(self, new_n: int) -> Commit:
        """Bucket-spec evolution — the Iceberg partition-spec-evolution
        analog for the bucket spec: a METADATA-ONLY commit switches the
        current write scheme; no data is rewritten. Existing files stay
        valid under the scheme they were written with (tracked per file in
        the manifest): read_key prunes each file under ITS scheme, and
        compact() migrates old-scheme files to the current scheme lazily. The
        operational lever when conv_id cardinality outgrows the create-time
        bucket count at 10^10-event scale (n_buckets ≫ cores keeps write
        parallelism un-quantized) — without the full-table rewrite a naive
        re-bucketing would need."""
        if not isinstance(new_n, int) or new_n < 1:
            raise ValueError(f"n_buckets must be a positive int, got {new_n!r}")
        for _attempt in range(4):
            st = self._state_full()
            commit = Commit(
                version=st.version + 1,
                batch_id=None,
                added=[],
                removed=[],
                schema_json=None,
                n_buckets=new_n,
                metrics={"set_n_buckets": new_n, "commit_retries": _attempt},
            )
            try:
                self._write_commit(commit)
            except ConcurrentCommitError:
                continue
            self._state_full()  # refresh self.n_buckets
            return commit
        raise ConcurrentCommitError(
            "set_n_buckets lost the race 4 times in a row"
        )

    def current_schema(self) -> T.StructType | None:
        """Latest committed schema (post-renames), None if never written."""
        return self._table_schema(self._state_full())

    # ----------------------------------------------------------- maintenance
    def compact(
        self, min_files_per_bucket: int = 2, max_buckets: int | None = None
    ) -> Commit | None:
        """Rewrite buckets fragmented across ≥ min_files_per_bucket files
        into one file each — the lakehouse small-files compaction (Iceberg's
        rewrite_data_files). Logical content unchanged; commit is
        batch_id=None (maintenance). This is also the delta fold-down: the
        rewrite LWW-resolves, leaving one row per key (the winning
        tombstones included — they must keep absorbing older replays until
        expire_tombstones).

        ``max_buckets`` bounds one call to the N MOST fragmented buckets —
        incremental compaction: a steady-state ingest loop spreads the
        fold-down across triggers in bounded slices instead of stalling a
        whole trigger rewriting every bucket (measured: an all-bucket
        inline fold after 4 x 6M-event batches cost a 14-20 s pause
        against 3.6 s steady batches). Remaining buckets stay fragmented
        until a later call — read-side LWW is unaffected."""
        st = self._state_full()
        nb = self.n_buckets
        # group by (scheme, bucket): after set_n_buckets, equal bucket ids
        # under different schemes are different key partitions
        by_bucket: dict[tuple[int, int], list[str]] = {}
        for p, a in st.live.items():
            by_bucket.setdefault((self._scheme(a), a["bucket"]), []).append(p)
        targets = {
            sb: ps
            for sb, ps in by_bucket.items()
            # old-scheme groups are ALWAYS targets regardless of
            # fragmentation: compaction is the lazy migration path of
            # bucket-spec evolution (the rewrite re-stamps them)
            if len(ps) >= min_files_per_bucket or sb[0] != nb
        }
        if not targets:
            return None
        if max_buckets is not None:
            if max_buckets <= 0:
                # 0/negative would silently slice the wrong buckets (the
                # engine's 0-sentinel is translated to None BEFORE this
                # call); fail loudly instead
                raise ValueError(
                    f"max_buckets must be positive or None, got {max_buckets}"
                )
            if len(targets) > max_buckets:
                worst = sorted(targets, key=lambda b: len(targets[b]), reverse=True)
                targets = {b: targets[b] for b in worst[:max_buckets]}
        return self._rewrite_buckets(
            st, [p for ps in targets.values() for p in ps], {"compaction": True}
        )

    def _rewrite_buckets(
        self, st: _State, old_files: list[str], metrics: dict, drop=None
    ) -> Commit | None:
        """Replace ``old_files`` (whole buckets) with their LWW-resolved
        rewrite, one key-sorted file per bucket, minus rows matching
        ``drop``; compaction, tombstone expiry and the bucket-spec
        transition all run here, in two Spark jobs (one exchange, one
        write). Rows are re-stamped under the current scheme first: the
        bucket is a function of the key, so this changes only rows of a
        transition. They are exchanged once, on a placement column that
        folds the touched buckets onto the host's slots (``_placement``),
        and LWW-grouped by (placement, *keys): the exchange's hash
        partitioning on the placement column already clusters every key,
        so the aggregate adds no second one. ``st`` is the snapshot the
        caller chose the files from: it also fixes the commit version, so a
        concurrent commit after it surfaces as ConcurrentCommitError
        instead of being overwritten."""
        nb = self.n_buckets
        stored = {(self._scheme(st.live[p]), st.live[p]["bucket"]) for p in old_files}
        if {s for s, _ in stored} != {nb}:
            # bucket-spec transition: re-stamped rows can land in ANY
            # current-scheme bucket (empty slots write nothing)
            slot_domain: list[int] = list(range(nb))
        else:
            slot_domain = sorted(b for _, b in stored)
        n_tasks, place = self._placement(
            dense_slot(F.col(_BUCKET_COL), slot_domain), len(slot_domain)
        )
        df = (
            self._read_files(old_files, st)
            .withColumn(_BUCKET_COL, self._bucket_expr(self.keys[0], nb))
            .withColumn("_rk", place)
            .repartition(n_tasks, "_rk")
        )
        df = lww_dedup(df, ["_rk", *self.keys], self.ts_col).drop("_rk")
        if drop is not None:
            df = df.filter(~drop)
        version = st.version + 1
        cdir_rel = f"c{version:020d}-{uuid.uuid4().hex[:8]}"  # unique per attempt
        cdir = os.path.join(self.root, _DATA_DIR, cdir_rel)
        (
            # cluster by key within each rewritten bucket: the footer key
            # stats become tight, so read_key skips sibling files, and
            # parquet row-group stats prune inside the file (the Iceberg
            # sort-order-on-rewrite pattern)
            df.withColumn("_pb", F.col(_BUCKET_COL))
            .sortWithinPartitions("_pb", *self.keys)
            .write.partitionBy("_pb")
            .mode("overwrite")
            .parquet(cdir)
        )
        added = self._scan_written(cdir, cdir_rel, nb)
        return self._commit_maintenance(
            version, added, old_files,
            metrics={
                **metrics,
                "buckets": len(stored),
                "files_removed": len(old_files),
                "files_added": len(added),
            },
        )

    def _commit_maintenance(
        self, version: int, added: list, old_files: list[str], metrics: dict
    ) -> Commit | None:
        """Commit a maintenance rewrite, retrying through commit races —
        the normal case for a SEPARATE maintenance process running beside
        a live ingest loop. The rewrite's parquet output is version-
        independent; on ConcurrentCommitError re-read the head, verify
        the rewritten inputs are all still live (a concurrent rewrite
        replacing them makes this one stale: abandon it, vacuum collects
        the orphan files), and re-attempt at the new head version.

        Safety under concurrency: an ingest commit only ADDS delta files,
        so replacing old_files with their resolved rewrite stays correct
        — LWW resolution is associative, and readers resolve across the
        rewrite plus any concurrent deltas. (Tombstone expiry leans on
        its horizon contract: concurrent batches carry events newer than
        the expiry horizon by definition.)"""
        for _attempt in range(4):
            commit = Commit(
                version=version,
                batch_id=None,
                added=added,
                removed=old_files,
                schema_json=None,
                # retries surface in the log: a separate maintenance
                # process racing a live ingest loop is the EXPECTED
                # deployment, and operators (and the concurrency soak)
                # need to see the races actually happening
                metrics={**metrics, "commit_retries": _attempt},
            )
            try:
                self._write_commit(commit)
                return commit
            except ConcurrentCommitError:
                st = self._state_full()
                if not set(old_files) <= set(st.live):
                    return None
                version = st.version + 1
        raise ConcurrentCommitError(
            "maintenance commit lost the race 4 times in a row"
        )

    def expire_tombstones(self, older_than) -> Commit | None:
        """Drop op='delete' tombstones with ts < older_than (safe once no
        replay can carry events older than the horizon). Rewrites only
        buckets that contain expired tombstones. The rewrite LWW-resolves
        FIRST — dropping a winning tombstone while older upserts of the key
        still sit in other delta files would resurrect the key; resolving
        removes those losers in the same rewrite."""
        snap = self.snapshot()
        if _OP_COL not in snap.columns:
            return None
        expired_rows = (F.col(_OP_COL) == "delete") & (
            F.col(self.ts_col) < F.lit(older_than)
        )
        st = self._state_full()
        # the expired keys' bucket under EVERY live scheme: during a
        # bucket-spec transition a tombstoned key's loser versions can sit
        # in a file of another scheme whose bucket id differs from the
        # tombstone file's — skipping that file would let dropping the
        # tombstone resurrect them at read time
        kc = self.keys[0]
        by_scheme = self._buckets_by_scheme(
            snap.filter(expired_rows).select(kc).distinct(),
            sorted({self._scheme(a) for a in st.live.values()}),
        )
        old_files = self._files_in_buckets(st.live, by_scheme)
        if not old_files:
            return None
        return self._rewrite_buckets(
            st, old_files, {"tombstones_expired": True}, drop=expired_rows
        )

    # ---------------------------------------------------------------- utils
    def history(self) -> list[dict]:
        return [c.__dict__ for c in self.commits()]

    def vacuum(self, retain_versions: int = 0, min_age_seconds: float = 3600.0) -> int:
        """Delete data files referenced by NO retained snapshot (orphans of
        losing writers included). ``retain_versions`` > 0 keeps every file
        any of the last N versions references — time travel within the
        retention window survives vacuum (the Iceberg expire-snapshots
        retention pattern); 0 retains only the latest snapshot.

        ``min_age_seconds`` guards in-flight writers (Delta's
        deletedFileRetentionDuration analog): a writer that has finished
        its Spark write but not yet created the log entry has unreferenced
        files on disk — deleting them would corrupt its about-to-succeed
        commit. Files younger than the threshold are skipped; pass 0 only
        when no concurrent writer can exist (tests, single-process)."""
        import time as _time

        latest = self.latest_version()
        keep: set[str] = set(self._state_full().live)
        for v in range(max(0, latest - retain_versions + 1), latest):
            keep.update(self._state_full(at_version=v).live)
        data_root = os.path.join(self.root, _DATA_DIR)
        cutoff = _time.time() - max(0.0, min_age_seconds)
        removed = 0
        for dirpath, _, files in os.walk(data_root):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, data_root)
                if fn.endswith(".parquet") and rel not in keep:
                    try:
                        if os.path.getmtime(full) > cutoff:
                            continue  # possibly an in-flight writer's file
                    except OSError:
                        continue  # raced with another cleaner
                    os.unlink(full)
                    removed += 1
        return removed
