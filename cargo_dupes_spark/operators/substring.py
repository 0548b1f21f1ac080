"""Substring tier [X1-X3]: winnowed fingerprints + exact LCS verification.

The reference's third tier extracts sub-units (if-branches, match arms, loop
bodies; ``dupes-core/src/extractor.rs:18-133``), reindexes them context-free
(``node.rs:343-358``) and reruns exact matching. The webtext analog detects
**cross-document repeated substrings >= L chars**.

Candidate generation uses winnowing (Schleimer, Wilkerson & Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 — the
MOSS scheme): hash every k-gram, keep the minimum hash of every w-length
window. GUARANTEE: any common substring of length >= k + w - 1 shares at
least one selected fingerprint, so with k + w - 1 <= min_substring_len the
candidate stage has perfect recall. Selected fingerprints are position-
independent (the "reindex from offset 0" analog: a k-gram hashes the same
wherever it occurs).

Verification computes the exact longest-common-substring length per pair
(binary search over length with vectorized uint64 rolling hashes + literal
string confirmation on hash hits — no false positives).

Scale shape: fingerprints explode to ~n_chars/w rows per doc (≈2% of
corpus chars at w=49), shuffle once on the 8-byte fingerprint, pair within
buckets (same cap/accounting as LSH), verify only candidates. The keys
(``winnow_keys``) are built in the signatures stage, like every detector's
in ``lsh.DETECTORS``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from ..contracts import assert_unique_ids
from .verify import reassemble_pairs

_B = np.uint64(0x9E3779B97F4A7C15)  # odd => invertible mod 2^64
_B_INV = np.uint64(pow(int(_B), -1, 1 << 64))


def _kgram_hashes(data: np.ndarray, k: int) -> np.ndarray:
    """uint64 rolling hashes of all k-grams of a uint8 array (vectorized).

    H[i] = sum_j data[i+j] * B^(k-1-j)  (mod 2^64), computed from prefix
    sums of data[j] * B^(-j) — B odd makes B^-1 exist mod 2^64.
    """
    n = len(data)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        idx = np.arange(n, dtype=np.uint64)
        inv_pows = np.empty(n, dtype=np.uint64)
        inv_pows[0] = np.uint64(1)
        np.cumprod(np.full(n - 1, _B_INV, dtype=np.uint64), out=inv_pows[1:])
        pows = np.empty(n, dtype=np.uint64)
        pows[0] = np.uint64(1)
        np.cumprod(np.full(n - 1, _B, dtype=np.uint64), out=pows[1:])
        weighted = data.astype(np.uint64) * inv_pows
        prefix = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(weighted, out=prefix[1:])
        window = prefix[k:] - prefix[:-k]  # wraps correctly mod 2^64
        h = window * pows[: n - k + 1] * pows[k - 1]
    return h


def winnow(text: str, k: int, w: int) -> np.ndarray:
    """Distinct selected fingerprints of one document (MOSS winnowing)."""
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    h = _kgram_hashes(data, k)
    if len(h) == 0:
        return np.empty(0, dtype=np.int64)
    if len(h) <= w:
        return np.unique(h.min(keepdims=True)).view(np.int64)
    windows = np.lib.stride_tricks.sliding_window_view(h, w)
    mins = windows.min(axis=1)
    return np.unique(mins).view(np.int64)


def winnow_keys(cfg: PipelineConfig):
    """Column: a (lang, norm_text) doc's winnowed fingerprints as bucket
    keys, hashed with the doc's language so keys never match across
    languages. A doc shorter than min_substring_len cannot hold a
    qualifying repeat (the min_sub_nodes gate, X2): the UDF gets a NULL for
    it, so it gets no keys and never enters a bucket."""
    k, w = cfg.winnow_kgram, cfg.winnow_window

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _winnow(texts: pd.Series) -> pd.Series:
        return pd.Series([winnow(t or "", k, w) for t in texts])

    text = F.when(
        F.length("norm_text") >= cfg.min_substring_len, F.col("norm_text")
    )
    return F.transform(_winnow(text), lambda h: F.xxhash64(F.col("lang"), h))


# ---------------------------------------------------------------------------
# generalized suffix array (the BASELINE.json north_star's named structure):
# the distributed shape is winnowing-for-candidates + per-pair verification,
# because a GLOBAL suffix array over 100 TB of text cannot be built without
# an O(corpus) shuffle per doubling round (log n rounds over every
# character), while winnowed fingerprints shuffle ~2 % of corpus chars ONCE
# and verification runs on co-located candidate texts only (BASELINE.md).
# suffix_array + lcp_array are the GSA reference implementation of that
# verification; the HOT PATH (verify_substring_pairs) uses the vectorized
# rolling-hash binary search instead (longest_common_substring_span) — same
# LENGTH always; when several distinct longest substrings tie, the kernel
# deterministically reports the span of the earliest occurrence in text a
# (the GSA argmaxes over suffix-array order and can pick a different tied
# span), with no per-char interpreter loop (Kasai's h-counter walk cost
# ~100x a numpy kernel per pair; round-2 bench doubled on it). Tests pin the
# two implementations against each other and against an O(nm) DP oracle.
# ---------------------------------------------------------------------------


def suffix_array(arr: np.ndarray) -> np.ndarray:
    """Suffix array of an int array — Manber-Myers doubling, O(n log² n),
    fully vectorized (lexsort per doubling round)."""
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.unique(arr, return_inverse=True)[1].astype(np.int64)
    k = 1
    order = np.argsort(rank, kind="stable")
    while True:
        rank2 = np.full(n, -1, dtype=np.int64)
        rank2[: n - k] = rank[k:]
        order = np.lexsort((rank2, rank))
        changed = (rank[order[1:]] != rank[order[:-1]]) | (
            rank2[order[1:]] != rank2[order[:-1]]
        )
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.concatenate(([0], np.cumsum(changed)))
        rank = new_rank
        if rank[order[-1]] == n - 1:
            return order
        k *= 2


def lcp_array(arr: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """Kasai LCP: lcp[i] = |common prefix of suffixes sa[i-1], sa[i]|.
    O(n) total work (the h counter only grows n times)."""
    n = len(arr)
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = sa[r - 1]
            while i + h < n and j + h < n and arr[i + h] == arr[j + h]:
                h += 1
            lcp[r] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


def _first_common_kgram(
    a: np.ndarray, b: np.ndarray, length: int
) -> tuple[int, int] | None:
    """Smallest i (plus one matching j) with a[i:i+length] == b[j:j+length],
    or None. Vectorized throughout: rolling hashes of every k-gram on both
    sides, sort+searchsorted to align them, then a LITERAL confirmation of
    the hash hit (no false positives at 64-bit collisions). The Python loop
    below runs once per *false* collision — i.e. effectively never; the
    first flagged (i, j) confirms immediately on real matches."""
    ha = _kgram_hashes(a, length)
    hb = _kgram_hashes(b, length)
    if len(ha) == 0 or len(hb) == 0:
        return None
    order = np.argsort(hb, kind="stable")
    hb_sorted = hb[order]
    lo = np.searchsorted(hb_sorted, ha, side="left")
    hi = np.searchsorted(hb_sorted, ha, side="right")
    for i in np.flatnonzero(lo < hi):  # ascending i
        for p in range(int(lo[i]), int(hi[i])):
            j = int(order[p])
            if np.array_equal(a[i : i + length], b[j : j + length]):
                return int(i), j
    return None


def longest_common_substring_span(
    sa_text: str, sb_text: str, min_len: int
) -> tuple[int, int, int]:
    """(lcs_len, pos_a, pos_b) of the longest common substring, or (0,0,0)
    if shorter than min_len. Positions are CHARACTER offsets (the kernel
    runs over code points, not utf-8 bytes) of the FIRST occurrence in each
    text — deterministic and equal to SQL strpos()-1, so the spans are
    oracle-checkable. Analog of the reference's member line ranges
    (dupes-core/src/code_unit.rs:41-55).

    Kernel: binary search over the length with the vectorized rolling-hash
    matcher (_first_common_kgram) — O(n log² n) in numpy ops, replacing the
    per-pair pure-Python Kasai LCP loop whose interpreter constant made the
    verify stage ~2x the whole substring query (round-2 bench). The GSA
    formulation (suffix_array + lcp_array below) is retained as the
    reference implementation and cross-checked against this kernel in
    tests/test_substring.py. Among equal-length longest substrings the one
    whose first occurrence in `sa_text` is earliest wins; pos_b is the
    first occurrence in `sb_text` of that exact substring."""
    la, lb = len(sa_text), len(sb_text)
    if min(la, lb) < min_len or min_len <= 0:
        return 0, 0, 0
    a = np.frombuffer(sa_text.encode("utf-32-le"), dtype=np.uint32)
    b = np.frombuffer(sb_text.encode("utf-32-le"), dtype=np.uint32)
    best = _first_common_kgram(a, b, min_len)
    if best is None:
        return 0, 0, 0
    lo, hi = min_len, min(la, lb)
    # invariant: a common substring of length lo exists, witnessed by best
    while lo < hi:
        mid = (lo + hi + 1) // 2
        m = _first_common_kgram(a, b, mid)
        if m is not None:
            lo, best = mid, m
        else:
            hi = mid - 1
    # best[0] is the minimal matching position in a: any earlier occurrence
    # of the winning substring would itself match b, so it IS a.find(sub)
    start = best[0]
    sub = sa_text[start : start + lo]
    return lo, start, sb_text.find(sub)


_SPAN_RESULT = T.StructType(
    [
        T.StructField("lcs_len", T.LongType()),
        T.StructField("span_a_start", T.LongType()),
        T.StructField("span_b_start", T.LongType()),
    ]
)


def verify_substring_pairs(
    pairs: DataFrame, fingerprints: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Candidate pairs -> verified substring edges WITH span offsets.

    The vectorized rolling-hash binary search (longest_common_substring_span;
    GSA-equivalent, see the block comment above) yields the exact longest
    common substring and its first-occurrence character offsets in both
    texts — the analog of the reference's member line ranges
    (dupes-core/src/code_unit.rs:41-55,
    SURVEY X3 span_a/span_b). similarity := lcs_len / min(len_a, len_b) in
    CHARACTERS — 1.0 means full containment (doc B inside doc A), the shape
    of the reference's sub-unit duplicates. Spans are half-open char ranges
    [start, end) into norm_text.
    """
    assert_unique_ids(
        fingerprints, "url", "verify_substring_pairs(fingerprints)"
    )
    # norm_text is the heaviest payload in the pipeline: one join moves it
    joined = reassemble_pairs(pairs, fingerprints, "url", ["norm_text"])
    min_len = cfg.min_substring_len

    @F.pandas_udf(_SPAN_RESULT)
    def _lcs_span(ta: pd.Series, tb: pd.Series) -> pd.DataFrame:
        out = []
        for sa, sb in zip(ta, tb):
            out.append(longest_common_substring_span(sa or "", sb or "", min_len))
        return pd.DataFrame(
            out, columns=["lcs_len", "span_a_start", "span_b_start"]
        )

    return (
        joined.withColumn("_s", _lcs_span("norm_text_a", "norm_text_b"))
        .filter(F.col("_s.lcs_len") > 0)
        .select(
            "url_a",
            "url_b",
            "tier",
            (
                F.col("_s.lcs_len")
                / F.least(F.length("norm_text_a"), F.length("norm_text_b"))
            ).alias("similarity"),
            F.col("_s.span_a_start").alias("span_a_start"),
            (F.col("_s.span_a_start") + F.col("_s.lcs_len")).alias("span_a_end"),
            F.col("_s.span_b_start").alias("span_b_start"),
            (F.col("_s.span_b_start") + F.col("_s.lcs_len")).alias("span_b_end"),
        )
    )
