"""Seeded input generator for the lakehouse benchmark.

Every value is a pure function of ``(seed, row id, salt)`` through a
splitmix64 hash, never of a random stream or of how the work is split
into partitions, so the same seed always yields byte-identical inputs.
Inputs are written once as plain parquet with pyarrow; the engine reads
those files and the duckdb oracle reads the same files.

Row layout of every generated table::

    k    bigint   primary (hash) key
    p    int      range column, 8 values, a function of k alone
    g    int      group column for the MV workload, changes on update
    v    bigint   value in [0, 1e6)
    x    double   value with two decimals
    tag  string   short label
    bno  bigint   number of the input batch that wrote the row (0 = base)

A *partial* batch carries only ``k, p, v, bno``; the engine keeps the
existing ``g, x, tag`` of keys it updates and leaves them NULL on new keys.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_RANGE = 8
N_GROUPS = 64
FULL_COLS = ["k", "p", "g", "v", "x", "tag", "bno"]
PARTIAL_COLS = ["k", "p", "v", "bno"]

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _mix(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = z + _GOLDEN
        z = (z ^ (z >> np.uint64(30))) * _M1
        z = (z ^ (z >> np.uint64(27))) * _M2
        return z ^ (z >> np.uint64(31))


def hash64(ids, seed: int, salt: int) -> np.ndarray:
    """Hash of each id under ``(seed, salt)``; uint64 array."""
    ids = np.asarray(ids, dtype=np.int64).astype(np.uint64)
    key = _mix(np.array([seed * 1_000_003 + salt], dtype=np.uint64))
    return _mix(ids ^ key)


def range_of(keys, seed: int) -> np.ndarray:
    """Range value of each key: fixed for the key's lifetime, so an
    upsert never moves a key to another range partition."""
    return (hash64(keys, seed, 1) % np.uint64(N_RANGE)).astype(np.int32)


def rows(keys, seed: int, bno: int, partial: bool = False) -> pa.Table:
    """The rows batch ``bno`` writes for ``keys`` (sorted, unique)."""
    keys = np.asarray(keys, dtype=np.int64)
    salt = 100 + 7 * bno
    cols = {
        "k": keys,
        "p": range_of(keys, seed),
        "g": (hash64(keys, seed, salt) % np.uint64(N_GROUPS)).astype(np.int32),
        "v": (hash64(keys, seed, salt + 1) % np.uint64(1_000_000)).astype(np.int64),
        "x": (hash64(keys, seed, salt + 2) % np.uint64(100_000)).astype(np.int64) / 100.0,
        "tag": np.char.add("t", (hash64(keys, seed, salt + 3) % np.uint64(1000))
                           .astype(np.int64).astype(str)),
        "bno": np.full(len(keys), bno, dtype=np.int64),
    }
    names = PARTIAL_COLS if partial else FULL_COLS
    return pa.table({c: cols[c] for c in names})


def batch_keys(seed: int, bno: int, size: int, n_base: int,
               hot_frac: float = 0.02, new_per_batch: int = 0,
               ranges=None) -> np.ndarray:
    """Unique sorted keys of upsert batch ``bno`` (1-based).

    Skewed toward a hot set: 60% of ``size`` draws hit the first
    ``hot_frac`` of the base keys, 40% are uniform over all base keys.
    ``ranges`` keeps only draws whose range value is listed (updates
    concentrated on a few partitions). ``new_per_batch`` keys past every
    earlier batch's new keys are appended (inserts)."""
    draws = np.arange(size, dtype=np.int64)
    h = hash64(draws, seed, 10_000 + bno)
    hot = max(1, int(n_base * hot_frac))
    pick_hot = (h % np.uint64(100)) < np.uint64(60)
    r = (h >> np.uint64(8))
    k = np.where(pick_hot, r % np.uint64(hot), r % np.uint64(n_base)).astype(np.int64)
    if ranges is not None:
        k = k[np.isin(range_of(k, seed), list(ranges))]
    new = n_base + (bno - 1) * new_per_batch + np.arange(new_per_batch, dtype=np.int64)
    return np.unique(np.concatenate([k, new]))


def hot_ranges(seed: int, n: int) -> list[int]:
    """``n`` distinct range values chosen by the seed."""
    first = int(hash64([0], seed, 2)[0] % np.uint64(N_RANGE))
    return sorted((first + i * (N_RANGE // n)) % N_RANGE for i in range(n))


def is_partial(bno: int, every: int) -> bool:
    """Every ``every``-th batch is partial-column (0 = never)."""
    return every > 0 and bno % every == 0


def write(table: pa.Table, path: str) -> int:
    """Write ``table`` as one snappy parquet file; returns its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def lookup_keys(seed: int, op: int, n: int, n_keys: int,
                hot_frac: float = 0.02) -> list[int]:
    """``n`` distinct keys for lookup ``op``, 80% drawn from the hot set."""
    draws = np.arange(4 * n + 8, dtype=np.int64)
    h = hash64(draws, seed, 50_000 + op)
    hot = max(1, int(n_keys * hot_frac))
    pick_hot = (h % np.uint64(100)) < np.uint64(80)
    r = h >> np.uint64(8)
    k = np.where(pick_hot, r % np.uint64(hot), r % np.uint64(n_keys)).astype(np.int64)
    out: list[int] = []
    for x in k.tolist():
        if x not in out:
            out.append(x)
        if len(out) == n:
            break
    return out


def pick(seed: int, op: int, salt: int, n: int) -> int:
    """A deterministic choice in ``[0, n)`` for op ``op``."""
    return int(hash64([op], seed, salt)[0] % np.uint64(n))
