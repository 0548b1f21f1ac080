"""Batched MinHash signatures [F5] — numpy kernel for the fused signature
pandas UDF (functions/signatures.py).

No reference analog (the reference compares trees pairwise within size
buckets, ``dupes-core/src/grouper.rs:115-151``); MinHash+LSH is the
scale-out replacement demanded by BASELINE.json north_star: "batched MinHash
signatures with LSH band hashing ... vectorized pandas/Arrow UDFs (no
per-row Python)".

Kernel design: all rows of an Arrow batch are flattened into ONE contiguous
uint64 array; for each permutation h_i(s) = ((s ^ b_i) * a_i) the hash pass
and the per-document min-reduction (``np.minimum.reduceat`` over the row
offsets) run over that 1D buffer. The per-permutation loop beats the
(shingles × permutations) matrix formulation by >20x: the working set is
one flat buffer (cache-resident, reused in place) instead of a multi-GB 2-D
intermediate, and reduceat runs on contiguous memory.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_MSB = np.uint64(1) << np.uint64(63)
MINHASH_EMPTY = np.iinfo(np.int64).max  # sentinel for empty shingle sets


def perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic permutation family: odd multipliers + xor masks."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 63, size=num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    return a, b


def flatten_shingle_rows(shingle_lists) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Arrow batch of shingle arrays -> (flat uint64, offsets, nonempty_idx).

    offsets[i] is the start of nonempty row i's run inside flat; empty rows
    are excluded (callers give them their sentinel/zero value).
    """
    arrays = [np.asarray(v, dtype=np.int64) for v in shingle_lists]
    lengths = np.array([len(v) for v in arrays], dtype=np.int64)
    idx = np.flatnonzero(lengths > 0)
    if len(idx) == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64), idx
    flat = np.concatenate([arrays[i] for i in idx]).astype(np.uint64)
    offsets = np.zeros(len(idx), dtype=np.int64)
    np.cumsum(lengths[idx][:-1], out=offsets[1:])
    return flat, offsets, idx


# L2-resident chunk size (shingle count): 2^16 x 8 B = 512 KiB. The per-
# permutation passes reread the chunk from cache instead of DRAM — under 32
# concurrent workers this is ~3.8x faster than streaming the full batch per
# permutation (the kernels are bandwidth-bound, not compute-bound).
_BLOCK_SHINGLES = 1 << 16


def doc_aligned_chunks(flat: np.ndarray, offsets: np.ndarray):
    """Yield (d0, d1, fl, off): document ranges whose shingle runs total
    ~_BLOCK_SHINGLES, never splitting a document."""
    n = len(offsets)
    d0 = 0
    while d0 < n:
        d1 = d0
        s0 = offsets[d0]
        limit = s0 + _BLOCK_SHINGLES
        while d1 < n and (d1 == d0 or offsets[d1] < limit):
            d1 += 1
        s1 = offsets[d1] if d1 < n else len(flat)
        yield d0, d1, flat[s0:s1], offsets[d0:d1] - s0
        d0 = d1


def minhash_from_flat(
    flat: np.ndarray, offsets: np.ndarray, num_perm: int, seed: int
) -> np.ndarray:
    """(n_nonempty_rows, num_perm) int64 signature matrix."""
    a, b = perm_params(num_perm, seed)
    out = np.empty((len(offsets), num_perm), dtype=np.int64)
    with np.errstate(over="ignore"):
        for d0, d1, fl, off in doc_aligned_chunks(flat, offsets):
            buf = np.empty_like(fl)
            for p in range(num_perm):
                np.bitwise_xor(fl, b[p], out=buf)
                np.multiply(buf, a[p], out=buf)
                # flip MSB: int64 view then orders identically to uint64
                np.bitwise_xor(buf, _MSB, out=buf)
                out[d0:d1, p] = np.minimum.reduceat(buf.view(np.int64), off)
    return out


def minhash_batch(
    shingle_lists: pd.Series, num_perm: int, seed: int
) -> pd.Series:
    """One Arrow batch of shingle arrays -> signatures (list of int64).
    Empty shingle sets get the MINHASH_EMPTY sentinel in every slot."""
    n_rows = len(shingle_lists)
    out = np.full((n_rows, num_perm), MINHASH_EMPTY, dtype=np.int64)
    flat, offsets, idx = flatten_shingle_rows(shingle_lists)
    if len(idx):
        out[idx] = minhash_from_flat(flat, offsets, num_perm, seed)
    return pd.Series(list(out))
