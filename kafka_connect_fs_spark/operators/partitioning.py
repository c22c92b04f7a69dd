"""Exact bucket→task placement for hash-exchange writes.

``df.repartition(n, bucket_col)`` routes rows through
``pmod(murmur3(bucket), n)`` — for k distinct bucket values into n=k
partitions, birthday collisions leave only ~k·(1-1/e) ≈ 0.63k non-empty
tasks, with some tasks carrying 2-3 buckets (round-4 profiling measured the
32-bucket MERGE write stage quantized to ~18 tasks, a 1.7× parallelism
loss on the hottest stage of the ingest path).

Fix: re-key each slot s to a precomputed int32 ``r[s]`` chosen so that
``pmod(murmur3_int32(r[s]), n) == s`` — the exchange then places slot s in
partition s exactly, one bucket per task, zero empties. The rekey table is
found driver-side by brute force over small ints (coupon-collector ~n·ln n
candidates, microseconds) and cached per n; it is a pure function of
Spark's fixed Murmur3 seed (42), so it is stable across sessions and
cluster sizes.

``murmur3_int32`` mirrors ``org.apache.spark.sql.catalyst.expressions
.Murmur3Hash`` on a single non-null IntegerType input (Murmur3_x86_32 of
the 4-byte int, seed 42) — the same function Spark exposes as ``F.hash``
and uses inside ``HashPartitioning.partitionIdExpression``. Parity with
``F.hash`` is pinned by tests/test_partitioning.py
(test_murmur3_matches_spark_hash) so an upstream change fails loudly
rather than silently degrading placement back to the birthday regime.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_M32 = 0xFFFFFFFF


def murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark Murmur3Hash (seed 42) of one IntegerType value; signed int32."""
    k = x & _M32
    k = (k * 0xCC9E2D51) & _M32
    k = ((k << 15) | (k >> 17)) & _M32
    k = (k * 0x1B873593) & _M32
    h = (seed ^ k) & _M32
    h = ((h << 13) | (h >> 19)) & _M32
    h = (h * 5 + 0xE6546B64) & _M32
    h ^= 4  # total byte length
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _pmod(a: int, n: int) -> int:
    return ((a % n) + n) % n


_REKEY_CACHE: dict[int, list[int]] = {}


def rekey_table(n_slots: int) -> list[int]:
    """r[s] = smallest non-negative int32 whose Spark hash-partition id in
    an n_slots-way exchange is s."""
    if n_slots <= 0:
        raise ValueError(f"n_slots must be positive, got {n_slots}")
    cached = _REKEY_CACHE.get(n_slots)
    if cached is not None:
        return cached
    found: dict[int, int] = {}
    v = 0
    while len(found) < n_slots:
        found.setdefault(_pmod(murmur3_int32(v), n_slots), v)
        v += 1
    table = [found[s] for s in range(n_slots)]
    _REKEY_CACHE[n_slots] = table
    return table


def exact_slot_rekey(slot: Column, n_slots: int) -> Column:
    """Column to pass as ``df.repartition(n_slots, exact_slot_rekey(slot,
    n_slots))`` so every row with slot value s ∈ [0, n_slots) lands in
    shuffle partition s — one slot per task, no collision quantization."""
    table = rekey_table(n_slots)
    arr = F.array(*[F.lit(int(v)) for v in table])
    return F.element_at(arr, slot.cast("int") + F.lit(1))


def dense_slot(col: Column, values) -> Column:
    """Map each distinct int in ``values`` to its dense index [0, len).

    For writes touching a known SUBSET of buckets (compaction and
    tombstone expiry — the driver already holds the affected bucket ids),
    ``exact_slot_rekey(dense_slot(bucket, affected), len(affected))``
    gives one task per affected bucket with zero empties, instead of
    hashing sparse bucket ids into a pinned count (birthday regime)."""
    order = sorted({int(v) for v in values})
    if not order:
        return F.lit(0)
    m = F.create_map(
        *[F.lit(x) for b, i in zip(order, range(len(order))) for x in (b, i)]
    )
    return F.element_at(m, col.cast("int"))
