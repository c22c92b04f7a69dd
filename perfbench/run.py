"""Benchmark entry point.

    python3 perfbench/run.py --workload tail_append --seed 1 --seconds 12 --trace 0

Runs from any directory; everything it writes stays under
``.perfbench_work/`` in the checkout that holds this file. Builds the
workload's inputs from ``--seed`` (several times; the median counts), warms
the program up, measures a closed loop of operations for ``--seconds``,
checks every output against an oracle, and prints the result as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, taken
from spans the benchmark records around each layer's public entry points.
The line before the result holds the details: every named end-to-end metric
with its unit and sample count, generated sizes, source bytes and the
resolved ``spark.driver.memory``. A traced run also writes its spans to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.

Exits non-zero, without a result line, when the package cannot be imported,
and non-zero after the result line when any output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procs import (  # noqa: E402
    CLK_TCK, MemorySampler, Timing, host_steal_ticks, stop_spark,
)

SETUP_REPS = 3
WORK_DIR = ".perfbench_work"


class Recorder:
    """Timed samples per operation kind, plus correctness counts."""

    def __init__(self):
        self.samples: dict[str, list[tuple[Timing, int]]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def sample(self, kind: str, timing: Timing, events: int = 0, ok: bool = True) -> None:
        self.samples.setdefault(kind, []).append((timing, events))
        self.check(kind, ok)

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)


def percentile_stats(xs: list[float]) -> dict:
    """Median and p90 with the sample count; a percentile is only given
    when at least ten samples lie beyond it."""
    n = len(xs)
    out: dict = {"n": n, "mean": sum(xs) / n if n else None}
    ys = sorted(xs)
    for name, q in (("p50", 0.5), ("p90", 0.9)):
        enough = n * (1 - q) >= 10
        out[name] = statistics.quantiles(ys, n=100)[int(q * 100) - 1] if enough else None
    return out


def _isolate_to(root: str, work: str) -> None:
    """Keep every file the run writes inside the checkout, and make the
    package importable in Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [root, os.environ.get("PYTHONPATH")])
    )
    import tempfile

    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import kafka_connect_fs_spark  # noqa: F401
        from kafka_connect_fs_spark.session import get_spark
        from perfbench import trace as tracing
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate_to(ROOT, work)
    mem = MemorySampler()
    mem.start()

    def phase(fn):
        """Run ``fn()``; return its result and its wall seconds."""
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0

    spark = None
    try:
        cores = len(os.sched_getaffinity(0))
        spark, session = phase(lambda: get_spark(f"perfbench-{args.workload}", cores=cores))

        tracer = None
        if args.trace:
            tracer = tracing.Tracer(spark)
            tracing.install(tracer)

        cls = WORKLOADS[args.workload]
        builds = []
        for rep in range(SETUP_REPS):
            rep_dir = os.path.join(work, f"rep{rep}")
            if rep:
                shutil.rmtree(os.path.join(work, f"rep{rep - 1}"), ignore_errors=True)
            os.makedirs(rep_dir)
            wl = cls(spark, args.seed, rep_dir, span=tracer.span if tracer else None)
            builds.append(phase(wl.build)[1])
        warm = phase(wl.warm_up)[1]
        setup_s = session + statistics.median(builds) + warm

        os.sync()
        rec = Recorder()
        disk0, src0 = wl.lake_usage()
        n_spans0 = len(tracer.spans) if tracer else 0
        steal0 = host_steal_ticks()
        t_start = time.perf_counter()
        deadline = t_start + args.seconds
        ops = 0
        while time.perf_counter() < deadline:
            if tracer:
                tracer.resolve_jobs()
                tracer.op_id = f"op{ops}"
            wl.op(rec)
            ops += 1
        window_s = time.perf_counter() - t_start
        disk1, src1 = wl.lake_usage()
        n_spans1 = len(tracer.spans) if tracer else 0
        steal_share = (host_steal_ticks() - steal0) / (window_s * os.cpu_count() * CLK_TCK)
        if tracer:
            tracer.op_id = None
        wl.verify(rec)
        if tracer:
            time.sleep(1.0)
            tracer.resolve_jobs()
            tracer.write(os.path.join(ROOT, WORK_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
        driver_memory = spark.sparkContext.getConf().get("spark.driver.memory")
    finally:
        if spark is not None:
            stop_spark(spark)
        mem.stop()
        shutil.rmtree(work, ignore_errors=True)

    kinds = {k: [t.wall_s for t, _ in xs] for k, xs in rec.samples.items()}
    end_to_end = {
        "setup_s": (setup_s, "s"),
        # timed calls only: generating the next batch and checking results
        # against the oracle are not part of an operation's time. Each kind
        # of operation weighs the same, however long it takes.
        "op_geomean_s": (
            statistics.geometric_mean(statistics.median(xs) for xs in kinds.values()), "s"
        ),
        # space the window's ingest added: a share of the whole table would
        # drift with how many operations fit in the window
        "lake_bytes_per_source_byte": ((disk1 - disk0) / (src1 - src0), "ratio"),
    }
    named = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    named["setup_s"]["n"] = SETUP_REPS
    named["op_geomean_s"]["n"] = {k: len(xs) for k, xs in kinds.items()}
    write = rec.samples[wl.write_op]
    named[wl.events_alias] = {
        "value": sum(e for _, e in write) / sum(t.wall_s for t, _ in write),
        "unit": "events/s", "n": len(write),
    }
    named["peak_pss_mb"] = {"value": mem.peak_kib / 1024, "unit": "MiB"}
    named["failed_ops_ratio"] = {
        "value": rec.failed / rec.attempted, "unit": "ratio", "n": rec.attempted
    }
    for kind, xs in rec.samples.items():
        stats = percentile_stats(kinds[kind])
        for stat in ("p50", "p90", "mean"):
            named[f"{kind}_{stat}_s"] = {"value": stats[stat], "unit": "s", "n": stats["n"]}
        named[f"{kind}_cpu_s"] = {
            "value": sum(t.cpu_s for t, _ in xs) / len(xs), "unit": "s", "n": len(xs)
        }
    if "sweep" in kinds:
        named["sweep_s"] = named["sweep_mean_s"]
        for q, xs in wl.query_s.items():
            named[f"query.{q}_mean_s"] = {"value": sum(xs) / len(xs), "unit": "s", "n": len(xs)}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "spark.driver.memory": driver_memory,
        "setup_wall_s": {"session": session, "builds": builds, "warm_up": warm},
        "window_s": window_s,
        "ops": ops,
        "generated_events": len(wl.rows),
        "source_bytes": wl.source_bytes,
        "query_table_bytes": getattr(wl, "query_bytes", 0),
        "failures": rec.failures,
        "named": named,
        # diagnostics: the share of CPU time the hypervisor took, over the
        # window and per sample ([wall, cpu, steal share])
        "host_steal_share": steal_share,
        "samples": {
            k: [[round(t.wall_s, 4), round(t.cpu_s, 2), round(t.steal_share, 3)] for t, _ in xs]
            for k, xs in rec.samples.items()
        },
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    if tracer:
        # tracing overhead = traced.op_geomean_s minus op_geomean_s of an
        # untraced run
        layers = tracing.layer_metrics(tracer.spans[n_spans0:n_spans1])
        metrics = {k: {"value": v, "unit": tracing.LAYER_METRICS[k][2]} for k, v in layers.items()}
        metrics["traced.op_geomean_s"] = {"value": end_to_end["op_geomean_s"][0], "unit": "s"}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }))
    return 0 if rec.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
