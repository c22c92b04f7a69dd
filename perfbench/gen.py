"""Seeded change-event generator for the benchmark.

Every input a workload feeds the program comes from one ``Generator`` built
from ``--seed``. The dimensions that change engine behaviour are varied on
purpose:

- conv_ids are Zipf-skewed (s = 1.1), so a few hot conversations take most
  of the updates and land in the same buckets batch after batch;
- keys are drawn from a fixed key space, so later events re-touch keys that
  earlier events created (LWW has real work, not only inserts);
- ``ts`` is unique per event and shuffled within each batch, so events
  arrive out of order inside a batch while every batch is later than the
  one before;
- a small share of events is ``op=delete``.

Because ``ts`` never repeats, last-writer-wins has exactly one answer per
key whatever the file order, and ``expected_final_state`` (the package's
Python LWW oracle) is unambiguous.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random

ROLES = ("user", "assistant", "tool")
BASE_MS = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
EPOCH = dt.datetime(1970, 1, 1)
ZIPF_S = 1.1
DELETE_SHARE = 0.02


class Generator:
    def __init__(self, seed: int, n_convs: int, turns_per_conv: int):
        self.rng = random.Random(seed)
        self.n_convs = n_convs
        self.turns = turns_per_conv
        self._cum = list(
            itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(n_convs))
        )
        # a seeded permutation of ranks, so the hottest conv_id differs by seed
        self._conv_of_rank = list(range(n_convs))
        self.rng.shuffle(self._conv_of_rank)
        self._clock_ms = BASE_MS

    def conv_id(self, c: int) -> str:
        return f"conv_{c:06d}"

    def hot_convs(self, k: int) -> list[str]:
        return [self.conv_id(c) for c in self._conv_of_rank[:k]]

    def cold_convs(self, k: int) -> list[str]:
        return [self.conv_id(c) for c in self._conv_of_rank[-k:]]

    def events(self, n: int) -> list[dict]:
        """The next ``n`` events, in arrival (file) order."""
        rng = self.rng
        ranks = rng.choices(range(self.n_convs), cum_weights=self._cum, k=n)
        # unique, shuffled timestamps inside [clock, clock + 2n): out of
        # order within the batch, later than every earlier batch
        offsets = rng.sample(range(2 * n), n)
        out = []
        for rank, off in zip(ranks, offsets):
            conv = self.conv_id(self._conv_of_rank[rank])
            turn = rng.randrange(self.turns)
            role = ROLES[turn % 3]
            payload = f"{rng.getrandbits(64):016x}"
            out.append(
                {
                    "op": "delete" if rng.random() < DELETE_SHARE else "upsert",
                    "conv_id": conv,
                    "turn_idx": turn,
                    "role": role,
                    "text": f"{conv}:{turn}:{payload}:" + "x" * rng.randrange(40, 120),
                    "tool": f"tool_{turn % 5}" if role == "tool" else None,
                    "ts": self._clock_ms + off,
                }
            )
        self._clock_ms += 2 * n
        return out


def _ts_strings(ms_values) -> list[str]:
    """ISO-8601 UTC strings with millisecond precision."""
    by_second: dict[int, str] = {}
    out = []
    for ms in ms_values:
        sec, frac = divmod(ms, 1000)
        head = by_second.get(sec)
        if head is None:
            head = by_second[sec] = (EPOCH + dt.timedelta(seconds=sec)).strftime(
                "%Y-%m-%dT%H:%M:%S"
            )
        out.append(f"{head}.{frac:03d}Z")
    return out


def _line(r: dict, ts: str) -> str:
    tool = "null" if r["tool"] is None else f'"{r["tool"]}"'
    return (
        f'{{"op":"{r["op"]}","conv_id":"{r["conv_id"]}","turn_idx":{r["turn_idx"]},'
        f'"role":"{r["role"]}","text":"{r["text"]}","tool":{tool},"ts":"{ts}"}}\n'
    )


def jsonl(rows: list[dict]) -> str:
    """JSON lines; every generated string is plain ASCII without quotes or
    escapes, so the fields are formatted directly."""
    return "".join(map(_line, rows, _ts_strings(r["ts"] for r in rows)))


def spread(rows: list[dict], n_files: int) -> list[list[dict]]:
    """Deal rows round-robin over ``n_files`` files."""
    return [rows[i::n_files] for i in range(n_files)]


def row_tuple(r: dict) -> tuple:
    return (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
