"""Interleaved A/B of the repository benchmark: a base git ref against the
working tree, on the same host in the same minutes.

    python3 tools/ab.py BASE_REF --workdir DIR
        [--workloads tail_append,read_mix] [--seeds 541-550] [--seconds 10]
        [--trace 0|1]

The committed files of BASE_REF are exported with ``git archive`` into
``DIR``; the change side is the working tree this script lives in. For
every workload and seed it runs ``perfbench/run.py`` once on each side,
alternating which side goes first from one seed to the next so slow drift
on the host falls on both sides alike. Each metric then prints with the median and quartiles of both
sides, the median ratio (change / base), and how many of the seed pairs
the change won. A metric is flagged ``gain`` (or ``loss``) when the change
is better (worse) in at least 9 of 10 pairs and the medians differ by more
than the base side's interquartile range.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(ref: str, dest: str) -> str:
    """The committed files of ``ref`` under ``dest``/<sha>; reused if present."""
    sha = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--verify", f"{ref}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    out = os.path.join(dest, sha[:12])
    if not os.path.isdir(out):
        tar = subprocess.run(
            ["git", "-C", REPO, "archive", "--format=tar", sha],
            check=True, capture_output=True,
        ).stdout
        with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
            tf.extractall(out + ".tmp")
        os.rename(out + ".tmp", out)
    return out


def run_once(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark process; its last stdout line is the result. It runs
    from inside ``tree``: Spark starts its Python workers with ``python -m``,
    which puts the working directory first on their import path, so a run
    started elsewhere could import another tree's package in its workers."""
    proc = subprocess.run(
        [sys.executable, os.path.join(tree, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=tree,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"correct": False, "metrics": {}}
    res["exit"] = proc.returncode
    if proc.returncode:
        res["stderr_tail"] = proc.stderr[-2000:]
    return res


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> list[dict]:
    names = sorted({k for b, h in pairs for k in b.get("metrics", {})})
    rows = []
    for name in names:
        got = [
            (b["metrics"][name]["value"], h["metrics"][name]["value"])
            for b, h in pairs
            if name in b.get("metrics", {}) and name in h.get("metrics", {})
            and b["metrics"][name]["value"] is not None
            and h["metrics"][name]["value"] is not None
        ]
        if not got:
            continue
        base = [b for b, _ in got]
        head = [h for _, h in got]
        lower = better.get(name, "lower") == "lower"
        wins = sum((h < b) if lower else (h > b) for b, h in got)
        losses = sum((h > b) if lower else (h < b) for b, h in got)
        bq, hq = quartiles(base), quartiles(head)
        clear = abs(hq[1] - bq[1]) > bq[2] - bq[0]
        need = -(-9 * len(got) // 10)  # 9 of 10
        verdict = ""
        if clear and wins >= need:
            verdict = "gain"
        elif clear and losses >= need:
            verdict = "loss"
        rows.append({
            "metric": name, "n": len(got),
            "base_median": bq[1], "base_q1": bq[0], "base_q3": bq[2],
            "head_median": hq[1], "head_q1": hq[0], "head_q3": hq[2],
            "ratio": hq[1] / bq[1] if bq[1] else float("nan"),
            "wins": wins, "verdict": verdict,
        })
    return rows


def parse_seeds(spec: str) -> list[int]:
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("--workdir", required=True, help="where the exported trees go")
    ap.add_argument("--workloads", default="tail_append,read_mix")
    ap.add_argument("--seeds", default="541-550")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(args.workdir, exist_ok=True)
    sides = {"base": export(args.base, args.workdir), "head": REPO}
    with open(os.path.join(sides["head"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    failed = 0
    for workload in args.workloads.split(","):
        pairs = []
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            got = {}
            for side in order:
                got[side] = run_once(sides[side], workload, seed, args.seconds, args.trace)
                if got[side]["exit"] or not got[side].get("correct"):
                    failed += 1
                    print(got[side].get("stderr_tail", ""), file=sys.stderr)
                print(f"{workload} seed={seed} {side}: exit={got[side]['exit']} "
                      + json.dumps({k: round(v["value"], 4)
                                    for k, v in got[side].get("metrics", {}).items()
                                    if v["value"] is not None}),
                      file=sys.stderr, flush=True)
            pairs.append((got["base"], got["head"]))
        rows = summarize(pairs, better)
        print(f"\n## {workload} ({len(pairs)} pairs; base {args.base} vs "
              "working tree)")
        print(f"{'metric':<34} {'base median [q1, q3]':>30} {'head median [q1, q3]':>30}"
              f" {'ratio':>7} {'wins':>6}")
        for r in rows:
            base_s = f"{r['base_median']:.4g} [{r['base_q1']:.4g}, {r['base_q3']:.4g}]"
            head_s = f"{r['head_median']:.4g} [{r['head_q1']:.4g}, {r['head_q3']:.4g}]"
            print(f"{r['metric']:<34} {base_s:>30} {head_s:>30} {r['ratio']:>7.3f}"
                  f" {r['wins']:>3}/{r['n']:<3} {r['verdict']}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
