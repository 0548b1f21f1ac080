"""The ``functions`` kernels timed alone: no Spark, no Arrow transfer.

Each kernel runs on a fixed sample of the workload's own corpus. Shingles
are token 3-gram hashes computed here with NumPy; the kernels only care about
the count and spread of the hashes, not which hash function made them.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from cargo_dupes_spark.config import PipelineConfig
from cargo_dupes_spark.functions.minhash import minhash_batch
from cargo_dupes_spark.functions.signatures import signature_batch
from cargo_dupes_spark.functions.simhash import simhash_batch
from cargo_dupes_spark.operators.substring import longest_common_substring_span, winnow

_MIX = np.array([0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9], dtype=np.uint64)


def shingle_hashes(texts: list[str], k: int) -> list[np.ndarray]:
    vocab: dict[str, int] = {}
    out = []
    with np.errstate(over="ignore"):
        for t in texts:
            ids = np.array([vocab.setdefault(w, len(vocab)) for w in t.split(" ")], dtype=np.uint64)
            if len(ids) < k:
                ids = np.concatenate([ids, np.zeros(k - len(ids), dtype=np.uint64)])
            win = np.lib.stride_tricks.sliding_window_view(ids + np.uint64(1), k)
            h = (win * _MIX[:k]).sum(axis=1)
            out.append(np.unique(h ^ (h >> np.uint64(29))).view(np.int64))
    return out


def _median_time(fn, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_table(
    texts: list[str], pairs: list[tuple[str, str]], repeats: int = 3
) -> dict[str, float]:
    """Median-of-``repeats`` microseconds per document (per pair for LCS)."""
    cfg = PipelineConfig()
    shingles = pd.Series(shingle_hashes(texts, cfg.shingle_k))
    n = len(texts)
    per_doc = 1e6 / n
    return {
        "kernel.signature_us_per_doc": per_doc
        * _median_time(lambda: signature_batch(shingles, cfg.num_perm, cfg.minhash_seed), repeats),
        "kernel.minhash_us_per_doc": per_doc
        * _median_time(lambda: minhash_batch(shingles, cfg.num_perm, cfg.minhash_seed), repeats),
        "kernel.simhash_us_per_doc": per_doc
        * _median_time(lambda: simhash_batch(shingles), repeats),
        "kernel.winnow_us_per_doc": per_doc
        * _median_time(
            lambda: [winnow(t, cfg.winnow_kgram, cfg.winnow_window) for t in texts], repeats
        ),
        "kernel.lcs_us_per_pair": 1e6
        / len(pairs)
        * _median_time(
            lambda: [
                longest_common_substring_span(a, b, cfg.min_substring_len) for a, b in pairs
            ],
            repeats,
        ),
        "kernel.shingles_per_doc": float(np.mean([len(s) for s in shingles])),
    }
