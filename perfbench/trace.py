"""Span tracer for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own code: ``install`` wraps the
public entry points of each layer in place, so the program itself carries
no tracing. Each span runs its Spark work under its own job group, which
gives a per-span job and stage count from ``statusTracker()``. Spark is
lazy: a reader's call only plans, and the execution is charged to the span
whose action consumes the plan. The job counts make that visible.

A span records the jobs launched while it was the innermost span; the
reported counts add its descendants' jobs. Its self time is its wall time
minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from perfbench.workloads import QUERY_SUBSET


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._unresolved: list[dict] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "start": time.monotonic(),
            "end": None,
            "child_s": 0.0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb-span-{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", f"pb-span-{parent['id']}" if parent else None
            )
            if parent is not None:
                parent["child_s"] += rec["end"] - rec["start"]
            self._unresolved.append(rec)

    def resolve_jobs(self) -> None:
        """Attach job and stage counts to finished spans. The status store
        is fed by an asynchronous listener, so the caller resolves spans
        one operation late, and once more after a pause at the end."""
        st = self.sc.statusTracker()
        for rec in self._unresolved:
            jobs = st.getJobIdsForGroup(f"pb-span-{rec['id']}")
            rec["spark_jobs"] = len(jobs)
            rec["spark_stages"] = sum(
                len(info.stageIds) for j in jobs if (info := st.getJobInfo(j))
            )
        self._unresolved = []

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _wrap(owner, attr: str, tracer: Tracer, name: str, on_result=None, on_args=None):
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name) as rec:
            if on_args is not None:
                on_args(rec, args, kwargs)
            out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(rec, out)
            return out

    setattr(owner, attr, traced)


def _bytes_planned(rec, args, kwargs):
    items = kwargs.get("items", args[1] if len(args) > 1 else [])
    rec["bytes_planned"] = sum(w.snap_length - w.start_offset for w in items)


def _trace_precommit_check(tracer: Tracer):
    """The engine hands ``merge`` a consistency check (a re-run of its line
    stats) that runs inside the merge; give it a span of its own so its
    time and jobs are charged to the engine, not to the lake."""

    def on_args(rec, args, kwargs):
        check = kwargs.get("precommit_check")
        if check is None:
            return

        def traced_check():
            with tracer.span("engine.precommit_check"):
                return check()

        kwargs["precommit_check"] = traced_check

    return on_args


def _compact_result(rec, commit):
    rec["files_rewritten"] = len(commit.removed) if commit is not None else 0


def _refresh_result(rec, stats):
    rec["files_read_ratio"] = stats.n_files_read / max(1, stats.n_live_files)


def _gauge(rec, args, kwargs):
    tbl = args[0]
    rec["live_files"] = len(tbl.files_in_range())
    rec["commits"] = tbl.latest_version() + 1


def install(tracer: Tracer) -> None:
    """Wrap each layer's public entry points (module attributes the engine
    resolves at call time, and class methods) with spans."""
    from kafka_connect_fs_spark.plans.lake import LakeTable
    from kafka_connect_fs_spark.plans.materialized import IncrementalRollup
    from kafka_connect_fs_spark.sources.watermarks import WatermarkStore
    from kafka_connect_fs_spark.streaming import engine

    _wrap(engine, "list_files", tracer, "discovery.list_files",
          on_result=lambda rec, out: rec.update(files_listed=len(out)))
    _wrap(engine, "read_line_format_native", tracer, "readers.read_native",
          on_args=_bytes_planned)
    _wrap(engine, "read_lines", tracer, "readers.read_lines", on_args=_bytes_planned)
    _wrap(engine, "parse_jsonl", tracer, "readers.parse_jsonl")
    _wrap(WatermarkStore, "load_dict", tracer, "watermarks.load_dict",
          on_result=lambda rec, out: rec.update(tracked_files=len(out)))
    _wrap(WatermarkStore, "commit", tracer, "watermarks.commit")
    _wrap(engine.IngestEngine, "run_once", tracer, "engine.run_once")
    _wrap(LakeTable, "merge", tracer, "lake.merge", on_args=_trace_precommit_check(tracer),
          on_result=lambda rec, c: rec.update(rows_written=c.metrics.get("rows_written", 0)))
    _wrap(LakeTable, "compact", tracer, "lake.compact", on_result=_compact_result)
    _wrap(LakeTable, "vacuum", tracer, "lake.vacuum")
    # read/read_key/read_changes only plan; the benchmark's own op.scan,
    # op.lookup and op.changes spans cover the call plus its action
    _wrap(LakeTable, "read", tracer, "lake.read.plan", on_args=_gauge)
    _wrap(LakeTable, "read_key", tracer, "lake.read_key.plan")
    _wrap(LakeTable, "read_changes", tracer, "lake.read_changes.plan")
    _wrap(IncrementalRollup, "refresh", tracer, "materialized.refresh",
          on_result=_refresh_result)


# spans nested in an owner span are charged to the owner, not to their own
# layer: the MV's own table merges and reads happen inside
# ``materialized.refresh``, and ``WatermarkStore.commit`` calls ``load_dict``
CHARGED_TO_OWNER = {"materialized.refresh": "lake.", "watermarks.commit": "watermarks.load_dict"}


def _calls(spans: list[dict], name: str) -> list[dict]:
    """The spans of calls into ``name`` made by the layer above it: not
    nested in another ``name`` span, nor in an owner span it is charged to."""
    by_id = {s["id"]: s for s in spans}
    owners = {o for o, prefix in CHARGED_TO_OWNER.items() if name.startswith(prefix)}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name and by_id[p]["name"] not in owners:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# per-layer metric -> (span name, field, unit); every value is a mean per span
# in the timed window, 0 where the workload never enters the layer
LAYER_METRICS: dict[str, tuple[str, str, str]] = {
    "lake.merge.s": ("lake.merge", "s", "s"),
    "lake.merge.spark_jobs": ("lake.merge", "spark_jobs", "count"),
    "lake.merge.rows_written": ("lake.merge", "rows_written", "count"),
    "engine.run_once.s": ("engine.run_once", "s", "s"),
    "engine.run_once.self_s": ("engine.run_once", "self_s", "s"),
    "engine.run_once.spark_jobs": ("engine.run_once", "spark_jobs", "count"),
    "engine.run_once.spark_stages": ("engine.run_once", "spark_stages", "count"),
    "readers.read_lines.s": ("readers.read_lines", "s", "s"),
    "readers.parse_jsonl.s": ("readers.parse_jsonl", "s", "s"),
    "readers.bytes_planned": ("readers.read_lines", "bytes_planned", "bytes"),
    "readers.read_native.s": ("readers.read_native", "s", "s"),
    "watermarks.load_dict.s": ("watermarks.load_dict", "s", "s"),
    "watermarks.commit.s": ("watermarks.commit", "s", "s"),
    "watermarks.tracked_files": ("watermarks.load_dict", "tracked_files", "count"),
    "discovery.list_files.s": ("discovery.list_files", "s", "s"),
    "discovery.files_listed": ("discovery.list_files", "files_listed", "count"),
    "lake.compact.s": ("lake.compact", "s", "s"),
    "lake.compact.files_rewritten": ("lake.compact", "files_rewritten", "count"),
    "lake.vacuum.s": ("lake.vacuum", "s", "s"),
    "lake.live_files": ("lake.read.plan", "live_files", "count"),
    "lake.commits": ("lake.read.plan", "commits", "count"),
    "lake.read.s": ("op.scan", "s", "s"),
    "lake.read.spark_jobs": ("op.scan", "spark_jobs", "count"),
    "lake.read_key.s": ("op.lookup", "s", "s"),
    "lake.read_key.spark_jobs": ("op.lookup", "spark_jobs", "count"),
    "lake.read_changes.s": ("op.changes", "s", "s"),
    "lake.read_changes.spark_jobs": ("op.changes", "spark_jobs", "count"),
    "materialized.refresh.s": ("materialized.refresh", "s", "s"),
    "materialized.refresh.spark_jobs": ("materialized.refresh", "spark_jobs", "count"),
    "materialized.refresh.files_read_ratio": ("materialized.refresh", "files_read_ratio", "ratio"),
    **{f"query.{q}.s": (f"query.{q}", "s", "s") for q in QUERY_SUBSET},
}


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Per-layer means over the spans of the timed window. Job and stage
    counts are inclusive: a span's own jobs plus its descendants'. The
    engine's consistency check runs inside ``lake.merge`` but is engine
    code: its time and jobs leave the merge and count toward
    ``engine.run_once``'s self time."""
    by_id = {s["id"]: s for s in spans}
    incl = {s["id"]: [s.get("spark_jobs", 0), s.get("spark_stages", 0)] for s in spans}
    for s in reversed(spans):  # children start after, so have larger ids
        if s["parent"] in incl:
            incl[s["parent"]][0] += incl[s["id"]][0]
            incl[s["parent"]][1] += incl[s["id"]][1]
    check_in_merge = {}  # lake.merge span id -> (seconds, jobs, stages) of the check
    check_in_run = {}  # engine.run_once span id -> seconds of the check
    for cb in spans:
        merge = by_id.get(cb["parent"])
        if cb["name"] != "engine.precommit_check" or merge is None:
            continue
        dur = cb["end"] - cb["start"]
        check_in_merge[merge["id"]] = (dur, *incl[cb["id"]])
        check_in_run[merge["parent"]] = dur
    out = {}
    for metric, (name, field, _unit) in LAYER_METRICS.items():
        vals = []
        for s in _calls(spans, name):
            i = s["id"]
            away_s, away_jobs, away_stages = check_in_merge.get(i, (0.0, 0, 0))
            if field == "s":
                vals.append(s["end"] - s["start"] - away_s)
            elif field == "self_s":
                vals.append(s["end"] - s["start"] - s["child_s"] + check_in_run.get(i, 0.0))
            elif field == "spark_jobs":
                vals.append(incl[i][0] - away_jobs)
            elif field == "spark_stages":
                vals.append(incl[i][1] - away_stages)
            else:
                vals.append(s.get(field, 0))
        out[metric] = _mean(vals)
    return out
