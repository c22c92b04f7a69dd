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
3. Groups the MV previously held for the touched keys that no longer
   exist (fully-deleted conversations, rows that moved out of a
   payload-column group) become op='delete' tombstones — the previous
   groups come from the MV itself, never from the change rows' values.
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

from pyspark.sql import Column, DataFrame, SparkSession
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
        return mv._view(st, files).select(*self.group_cols)

    def refresh(self, to_version: int | None = None) -> RefreshStats:
        """Bring the MV up to ``to_version`` (default: the base head).

        Idempotent: the MV merge's batch_id encodes the (from, to)
        window, so a refresh that committed but whose caller crashed
        before observing it replays as a no-op."""
        cached: list[DataFrame] = []
        try:
            return self._refresh(to_version, cached)
        finally:
            # a failed refresh must not leave its shared subplans cached
            for df in cached:
                df.unpersist()

    def _refresh(
        self, to_version: int | None, cached: list[DataFrame]
    ) -> RefreshStats:
        """The refresh itself; every frame it persists goes into
        ``cached`` for ``refresh`` to release."""

        def persist(df: DataFrame) -> DataFrame:
            cached.append(df.persist())
            return df

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
        if head <= last or window == []:
            # caught up, or only maintenance / metadata commits in the
            # window: no logical changes, nothing to absorb (the MV stays
            # pinned at `last`; read_changes would skip these anyway)
            return RefreshStats(last, last, 0, 0, 0, len(live), True)

        if initial:
            candidates = list(live)
            touched_keys = None
        else:
            changes = base._changes(window)
            by_scheme = self._touched_buckets_by_scheme(window, live, changes)
            candidates = base._files_in_buckets(live, by_scheme)
            # touched BUCKET KEYS, not touched group values: change rows
            # carry only their NEW column values (and delete tombstones
            # carry keys alone), so deriving groups from the change feed
            # would miss the group a row LEFT under an upsert that moved
            # a payload group column. The bucket key is immutable per row
            # identity and present on every change row; recomputing every
            # group the touched keys contribute to — and tombstoning the
            # groups the MV previously held for them — is correct for
            # arbitrary group columns (role, time windows, ...).
            # persist: feeds the semi-join AND the gone-group anti-join
            touched_keys = persist(changes.select(self.group_cols[0]).distinct())

        recomputed = None
        if candidates:
            # the same resolved view read() returns, so the MV aggregates
            # exactly the rows a full recompute would
            snap = base._view(st, candidates)
            if touched_keys is not None:
                snap = snap.join(
                    touched_keys, on=[self.group_cols[0]], how="left_semi"
                )
            for name, expr in self.derived.items():
                snap = snap.withColumn(name, expr)
            recomputed = snap.groupBy(*self.group_cols).agg(
                *[expr.alias(name) for name, expr in self.aggs.items()]
            )
            if touched_keys is not None:
                # the partial path consumes `recomputed` twice (the gone-
                # group anti-join/count AND the MV merge write): persist so
                # the touched-bucket read + resolve + re-aggregation runs
                # once per refresh, not once per consumer
                recomputed = persist(recomputed)

        mv_rows = None
        if recomputed is not None:
            mv_rows = recomputed.select(
                F.lit("upsert").alias("op"),
                *self.group_cols,
                *self.aggs.keys(),
                F.lit(head).cast("long").alias(_MV_TS),
            )
        n_deleted = 0
        if touched_keys is not None:
            # groups the MV previously held for the touched keys but that
            # no longer exist — a fully-deleted conversation, or rows that
            # MOVED out of a payload-column group (e.g. a role rewrite, a
            # turn leaving a time window). The previous groups come from
            # the MV itself, not the change feed. Null agg columns must
            # match the upsert side's types or the union rejects the plan.
            typed = recomputed if recomputed is not None else self.table.read()
            agg_types = {f.name: f.dataType for f in typed.schema.fields}
            # the MV shares the base's bucket key (group_cols[0]), so the
            # touched keys map straight to MV buckets: read only those MV
            # files (per-file manifest scheme, exactly like read_key) —
            # at 10^8 groups this turns a full-MV scan per refresh into
            # O(touched buckets' files)
            prev = self._read_prev_groups(touched_keys, known=by_scheme)
            gone = prev.join(
                touched_keys,
                on=prev[self.group_cols[0]].eqNullSafe(
                    touched_keys[self.group_cols[0]]
                ),
                how="left_semi",
            ).select(*self.group_cols)
            if recomputed is not None:
                # null-safe equality: a group holding NULL in any group
                # column (NULL role, to_date of NULL ts) must match its own
                # recomputed row — plain equality would classify it gone
                # and emit delete + upsert at the same mv_version (LWW
                # winner arbitrary → nondeterministically dropped group)
                rc = recomputed.select(*self.group_cols)
                gone = gone.join(
                    rc,
                    on=[
                        gone[c].eqNullSafe(rc[c]) for c in self.group_cols
                    ],
                    how="left_anti",
                )
            # bounded: ⊆ the touched keys' previous groups. Persisted: the
            # count here and the MV merge below both consume it
            gone = persist(gone)
            n_deleted = gone.count()
            if n_deleted:
                gone_rows = gone.select(
                    F.lit("delete").alias("op"),
                    *self.group_cols,
                    *[
                        F.lit(None).cast(agg_types.get(name, "string")).alias(name)
                        for name in self.aggs.keys()
                    ],
                    F.lit(head).cast("long").alias(_MV_TS),
                )
                mv_rows = (
                    gone_rows
                    if mv_rows is None
                    else mv_rows.unionByName(gone_rows, allowMissingColumns=False)
                )

        n_groups = 0
        if mv_rows is not None:
            commit = self.table.merge(
                mv_rows,
                batch_id=f"mv-{last}-{head}",
                app_metadata={"mv_base_version": head, "mv_from_version": last},
            )
            n_groups = int(commit.metrics.get("rows_written", 0)) - n_deleted
        return RefreshStats(
            last, head, n_groups, n_deleted, len(candidates), len(live),
            partial=not initial,
        )

    def lag(self) -> int:
        """Base commits the MV has not absorbed yet (a freshness metric)."""
        return max(0, self.base.latest_version() - self.refreshed_version())
