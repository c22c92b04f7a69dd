"""Incrementally-maintained materialized aggregate views over a MoR lake.

The canonical CDC downstream: a derived table (per-conversation rollups,
feature aggregates, freshness marts) kept in sync with the base table by
processing ONLY the change feed, never rescanning the base. The reference
has no analog (kafka-connect-fs stops at record emission); this is the
consumer side its users wire up by hand in Kafka Streams / ksqlDB — here
it is one class over ``LakeTable.read_changes``.

Maintenance strategy: **partial recompute of touched groups** (the
standard industrial IVM shape for non-invertible aggregates — upserts
REPLACE prior row versions, so pure delta-addition would double-count;
recomputing just the affected groups is correct under any mix of
upserts, deletes and late data):

1. The refresh window's commit manifests name the buckets the window's
   delta files landed in — metadata only, no scan (when every live file
   and every window commit share one bucket scheme; across a
   ``set_n_buckets`` migration the touched buckets are instead computed
   per live scheme with one tiny aggregate over the change feed).
2. Only those buckets' live files are re-read (a group's rows co-locate
   in one bucket because grouping starts with the bucket key), LWW-
   resolved, semi-joined to the window's touched BUCKET KEYS, and
   re-aggregated — cost scales with the batch, not the table.
3. The groups the MV previously held for the same touched keys (read
   from the MV itself, only in those keys' buckets, never from the change
   rows' values) meet the recomputed groups in ONE full outer join. Both
   the key match and the group match are null-safe, so a NULL bucket key
   or a NULL payload group value is a group like any other. A previous
   group with no recomputed row (a fully-deleted conversation, rows that
   moved out of a payload-column group) becomes an op='delete' tombstone;
   every other row is an upsert. Steps 2-3 are one lazy plan: nothing is
   cached or counted before the merge writes it.
4. The result MERGEs into the MV — itself a ``LakeTable`` keyed by the
   group columns with LWW on the refresh version, so the MV inherits the
   lake's exactly-once machinery: the refresh batch_id is derived from
   the (from, to) version window, making a crashed-and-replayed refresh
   a no-op (plans/lake.py merge replay guard).

At 10^10-row scale a refresh therefore costs O(changed buckets' live
data + change batch), and the driver handles only commit metadata plus
one ≤n_buckets-sized collected set per scheme.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from kafka_connect_fs_spark.plans.lake import LakeTable

_MV_TS = "mv_version"  # the MV's LWW column: base version at refresh time


@dataclass
class RefreshStats:
    from_version: int
    to_version: int
    n_groups_refreshed: int
    n_groups_deleted: int
    n_files_read: int
    n_live_files: int
    partial: bool  # False = initial full build (or forced full recompute)

    @property
    def noop(self) -> bool:
        return self.to_version <= self.from_version


class IncrementalRollup:
    """A grouped-aggregate view of ``base`` maintained from its CDF.

    ``group_cols`` must start with the base table's bucket key
    (``base.keys[0]``) — that is what co-locates every row of a group in
    one bucket and lets the refresh prune to touched buckets. Further
    group columns may be ANY base columns, key or payload (a role, a
    derived time bucket): the refresh tracks touched BUCKET KEYS and
    recomputes every group they contribute to, tombstoning the groups
    the MV previously held for them that no longer exist — so a row
    moving between payload-column groups under upsert stays consistent.
    ``aggs`` maps output column name -> Spark aggregate Column over the
    resolved base rows, e.g. ``{"n_turns": F.count(F.lit(1))}``.

    ``derived`` maps new column name -> Column expression computed over
    the resolved base rows before grouping — the time-window rollup
    case: ``derived={"day": F.to_date("ts")}, group_cols=["conv_id",
    "day"]``. A ts rewrite that moves a turn to another day empties or
    recomputes the old day group like any payload-column move.
    """

    def __init__(
        self,
        base: LakeTable,
        root: str,
        group_cols: list[str],
        aggs: dict[str, Column],
        n_buckets: int = 16,
        derived: dict[str, Column] | None = None,
    ):
        if not group_cols or group_cols[0] != base.keys[0]:
            raise ValueError(
                f"group_cols must start with the base bucket key "
                f"{base.keys[0]!r} (got {group_cols!r}) — grouping by the "
                f"bucket key is what co-locates a group in one bucket"
            )
        if len(set(group_cols)) != len(group_cols):
            raise ValueError(f"duplicate group_cols: {group_cols!r}")
        if derived and group_cols[0] in derived:
            raise ValueError(
                f"the bucket key {group_cols[0]!r} cannot be a derived "
                f"column — bucket co-location needs the physical key"
            )
        self.base = base
        self.group_cols = list(group_cols)
        self.aggs = dict(aggs)
        self.derived = dict(derived or {})
        if LakeTable.exists(root):
            self.table = LakeTable(base.spark, root)
            if (
                self.table.keys != self.group_cols
                or self.table.ts_col != _MV_TS
            ):
                # e.g. a tailer restarted with different --group-cols
                # against the old --mv root: merging differently-keyed
                # rows into it would corrupt the MV silently
                raise ValueError(
                    f"existing MV at {root!r} is keyed "
                    f"{self.table.keys!r} (ts {self.table.ts_col!r}), "
                    f"which does not match group_cols {self.group_cols!r}"
                )
        else:
            self.table = LakeTable.create(
                base.spark, root, keys=self.group_cols, ts_col=_MV_TS,
                n_buckets=n_buckets,
            )

    # ------------------------------------------------------------ state
    def refreshed_version(self) -> int:
        """The base version the MV currently reflects (-1 = never built):
        the newest MV commit's ``mv_base_version`` app-metadata."""
        for name in reversed(self.table._list_commit_names()):
            c = self.table._load_commit(name)
            v = (c.app_metadata or {}).get("mv_base_version")
            if v is not None:
                return int(v)
        return -1

    def read(self) -> DataFrame:
        return self.table.read()

    # ---------------------------------------------------------- refresh
    def _touched_buckets_by_scheme(
        self, commits, live: dict, changes: DataFrame
    ) -> dict[int, set[int]]:
        """scheme -> touched bucket set. Fast path: every live file and
        every window commit share one scheme — union the manifests'
        bucket tags, zero Spark jobs. Slow path (mid bucket-spec
        migration): hash the change feed's group keys under each live
        scheme in one small aggregate."""
        base = self.base
        live_schemes = {base._scheme(a) for a in live.values()}
        commit_schemes = {base._scheme(a) for c in commits for a in c.added}
        if len(live_schemes | commit_schemes) == 1:
            s = next(iter(live_schemes | commit_schemes))
            return {s: {a["bucket"] for c in commits for a in c.added}}
        return base._buckets_by_scheme(
            changes.select(self.group_cols[0]).distinct(), sorted(live_schemes)
        )

    def _read_prev_groups(
        self, touched_keys: DataFrame, known: dict[int, set[int]] | None = None
    ) -> DataFrame:
        """The MV's previous groups for the touched bucket keys, reading
        ONLY the MV files in buckets those keys hash to (per-file manifest
        scheme, exactly like LakeTable.read_key) — gone-group detection
        without a full-MV scan per refresh cycle.

        ``known`` carries the BASE refresh window's scheme→touched-bucket
        sets: a bucket id is a pure function of (key value, modulus), so
        any MV scheme equal to a base scheme reuses the base's
        manifest-derived set with zero Spark jobs (the common case — MV
        and base share a bucket count). Only schemes not covered run one
        tiny aggregate."""
        mv = self.table
        st = mv._state_full()
        schemes = {mv._scheme(a) for a in st.live.values()}
        by_scheme = {s: known[s] for s in schemes if known and s in known}
        by_scheme.update(
            mv._buckets_by_scheme(touched_keys, sorted(schemes - set(by_scheme)))
        )
        files = mv._files_in_buckets(st.live, by_scheme)
        return mv._view(st, files, columns=self.group_cols)

    def _touching(self, df: DataFrame, touched: DataFrame) -> DataFrame:
        """``df``'s rows whose bucket key is one of ``touched``'s, matched
        null-safely: a NULL bucket key is a key like any other."""
        key = self.group_cols[0]
        return df.join(touched, df[key].eqNullSafe(touched[key]), "left_semi")

    def refresh(self, to_version: int | None = None) -> RefreshStats:
        """Bring the MV up to ``to_version`` (default: the base head).

        One plan into one MV merge: nothing is cached or counted first.
        Idempotent: the MV merge's batch_id encodes the (from, to)
        window, so a refresh that committed but whose caller crashed
        before observing it replays as a no-op, and its delete count comes
        back from that commit's ``mv_groups_deleted`` app-metadata."""
        base = self.base
        last = self.refreshed_version()
        head = base.latest_version() if to_version is None else int(to_version)
        # pin the live-file view AT `head`: a live ingest daemon may commit
        # past it between the version capture and this read — an unpinned
        # state would leak post-head rows into the recompute, making the
        # MV claim a version it doesn't reflect (self-healing on the next
        # refresh, but snapshot-pinning makes it exact beside a live
        # writer — the deployment jobs/mv_job.py runs in)
        st = base._state_full(head)
        live = st.live
        initial = last < 0
        window = None if initial else base._change_commits(last, head)
        if head <= last or window == [] or not st.schema_json:
            # caught up, or only maintenance / metadata commits in the
            # window: no logical changes, nothing to absorb (the MV stays
            # pinned at `last`; read_changes would skip these anyway). A
            # base never written has no columns for the aggregates yet.
            return RefreshStats(last, last, 0, 0, 0, len(live), True)

        if initial:
            files = list(live)
            # the same resolved view read() returns, so the MV aggregates
            # exactly the rows a full recompute would
            snap = base._view(st, files)
        else:
            changes = base._changes(window)
            by_scheme = self._touched_buckets_by_scheme(window, live, changes)
            files = base._files_in_buckets(live, by_scheme)
            # touched BUCKET KEYS, not touched group values: change rows
            # carry only their NEW column values (and delete tombstones
            # carry keys alone), so deriving groups from the change feed
            # would miss the group a row LEFT under an upsert that moved
            # a payload group column. The bucket key is immutable per row
            # identity and present on every change row; recomputing every
            # group the touched keys contribute to — and tombstoning the
            # groups the MV previously held for them — is correct for
            # arbitrary group columns (role, time windows, ...).
            touched = changes.select(self.group_cols[0]).distinct()
            snap = self._touching(base._view(st, files), touched)
        for name, expr in self.derived.items():
            snap = snap.withColumn(name, expr)
        rows = snap.groupBy(*self.group_cols).agg(
            *[expr.alias(name) for name, expr in self.aggs.items()]
        ).withColumn("op", F.lit("upsert"))
        if not initial:
            # null-safe on every group column: a NULL role or a to_date of
            # a NULL ts is a group too. A previous group with no recomputed
            # row is gone (a deleted conversation, rows that MOVED out of a
            # payload-column group) and becomes a delete.
            prev = self._touching(
                self._read_prev_groups(touched, known=by_scheme), touched
            )
            prev = prev.select(*[F.col(c).alias(f"_prev_{c}") for c in self.group_cols])
            rows = rows.join(
                prev,
                [F.col(c).eqNullSafe(F.col(f"_prev_{c}")) for c in self.group_cols],
                "full_outer",
            ).select(
                F.coalesce("op", F.lit("delete")).alias("op"),
                *[F.coalesce(c, f"_prev_{c}").alias(c) for c in self.group_cols],
                *self.aggs,
            )
        deleted = Observation()
        rows = rows.withColumn(_MV_TS, F.lit(head).cast("long")).observe(
            deleted, F.count_if(F.col("op") == "delete").alias("n")
        )
        meta = {"mv_base_version": head, "mv_from_version": last}
        commit = self.table.merge(
            rows,
            batch_id=f"mv-{last}-{head}",
            # read only once the write ran: a replayed window returns the
            # first run's commit without writing, and its count is there
            precommit_check=lambda: {**meta, "mv_groups_deleted": deleted.get["n"]},
        )
        n_deleted = int(commit.app_metadata.get("mv_groups_deleted", 0))
        return RefreshStats(
            last, head, int(commit.metrics.get("rows_written", 0)) - n_deleted,
            n_deleted, len(files), len(live), partial=not initial,
        )

    def lag(self) -> int:
        """Base commits the MV has not absorbed yet (a freshness metric)."""
        return max(0, self.base.latest_version() - self.refreshed_version())
