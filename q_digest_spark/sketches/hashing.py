"""Deterministic vectorized hashing shared by every sketch.

All sketches consume 64-bit hashes. Two producers:

- integers  -> splitmix64 (wrapping uint64 arithmetic, fully vectorized)
- strings   -> pandas' SipHash-1-3 with the library's fixed key
              (``pd.util.hash_array`` / ``hash_pandas_object``), which is
              deterministic across processes and platforms.

"Permutations" for MinHash / CountMin rows are derived by XOR-ing a
per-row seed into the input hash and re-mixing with splitmix64 — the
standard cheap substitute for a true universal family, adequate for the
(eps, delta) guarantees asserted in the test-suite.

Everything here is numpy-vectorized: no per-row Python in any hot path
(BASELINE.json input_hint: "vectorized pandas/Arrow UDFs, no per-row
Python").
"""

from __future__ import annotations

import numpy as np
import pandas as pd

U64 = np.uint64
_C1 = U64(0x9E3779B97F4A7C15)
_C2 = U64(0xBF58476D1CE4E5B9)
_C3 = U64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array (wraps mod 2^64)."""
    z = x.astype(U64, copy=True)
    with np.errstate(over="ignore"):
        z += _C1
        z = (z ^ (z >> U64(30))) * _C2
        z = (z ^ (z >> U64(27))) * _C3
        return z ^ (z >> U64(31))


def hash_i64(values: np.ndarray) -> np.ndarray:
    """64-bit hashes for an integer array."""
    return splitmix64(np.asarray(values).astype(np.int64).view(U64))


def hash_strings(values: pd.Series | np.ndarray) -> np.ndarray:
    """Deterministic 64-bit hashes for a string array (pandas SipHash-1-3,
    fixed default key). NaN/None hash to a fixed value."""
    if isinstance(values, pd.Series):
        values = values.to_numpy()
    arr = np.asarray(values, dtype=object)
    return pd.util.hash_array(arr, categorize=False).astype(U64)


def hash_any(values) -> np.ndarray:
    """Dispatch: integer dtypes -> hash_i64, everything else -> hash_strings."""
    if isinstance(values, pd.Series):
        if pd.api.types.is_integer_dtype(values.dtype):
            return hash_i64(values.to_numpy())
        return hash_strings(values)
    arr = np.asarray(values)
    if np.issubdtype(arr.dtype, np.integer):
        return hash_i64(arr)
    return hash_strings(arr)


def rehash(hashes: np.ndarray, seed: int) -> np.ndarray:
    """Derive an independent-looking hash stream: mix a seed in, re-finalize."""
    return splitmix64(hashes ^ splitmix64(np.full(1, seed, dtype=U64)))


def bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 values < 2**53 (exact via frexp)."""
    x = np.asarray(x, dtype=np.float64)
    _, e = np.frexp(x)
    return e.astype(np.int64)  # 0 for x == 0
