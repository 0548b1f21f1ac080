"""Winnowing + LCS verification properties."""

from __future__ import annotations

import random

import numpy as np
import pytest

from cargo_dupes_spark.config import PipelineConfig
from cargo_dupes_spark.operators.substring import (
    _kgram_hashes,
    lcp_array,
    longest_common_substring_len,
    longest_common_substring_span,
    suffix_array,
    winnow,
)

CFG = PipelineConfig()


def _lcs_dp(a: str, b: str) -> int:
    """O(nm) DP oracle for small strings."""
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    return best


def test_kgram_hashes_match_direct():
    data = np.frombuffer(b"abcabcabd", dtype=np.uint8)
    h = _kgram_hashes(data, 3)
    assert len(h) == 7
    assert h[0] == h[3]  # "abc" == "abc"
    assert h[0] != h[6]  # "abc" != "abd"


def test_winnow_guarantee():
    """Any shared substring >= k + w - 1 chars must share a selected
    fingerprint (Schleimer et al. guarantee)."""
    rng = random.Random(3)
    alphabet = "abcdefgh "
    k, w = CFG.winnow_kgram, CFG.winnow_window
    need = k + w - 1
    for _ in range(10):
        shared = "".join(rng.choice(alphabet) for _ in range(need))
        a = "".join(rng.choice(alphabet) for _ in range(200)) + shared
        b = shared + "".join(rng.choice(alphabet) for _ in range(200))
        fa = set(winnow(a, k, w).tolist())
        fb = set(winnow(b, k, w).tolist())
        assert fa & fb, "winnowing guarantee violated"


def test_lcs_exact_vs_dp():
    rng = random.Random(5)
    alphabet = "abc"
    for _ in range(20):
        a = "".join(rng.choice(alphabet) for _ in range(80))
        b = "".join(rng.choice(alphabet) for _ in range(80))
        want = _lcs_dp(a, b)
        got = longest_common_substring_len(a, b, min_len=1)
        assert got == want


def test_lcs_threshold_gate():
    a = "x" * 100 + "COMMONSEGMENT" + "y" * 100
    b = "p" * 50 + "COMMONSEGMENT" + "q" * 50
    assert longest_common_substring_len(a, b, min_len=13) == 13
    assert longest_common_substring_len(a, b, min_len=14) == 0


def test_suffix_array_sorted():
    rng = random.Random(17)
    for _ in range(10):
        s = "".join(rng.choice("abcd") for _ in range(150))
        arr = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
        sa = suffix_array(arr)
        suffixes = [s[i:] for i in sa]
        assert suffixes == sorted(s[i:] for i in range(len(s)))
        lcp = lcp_array(arr, sa)
        for i in range(1, len(s)):
            x, y = suffixes[i - 1], suffixes[i]
            want = 0
            while want < min(len(x), len(y)) and x[want] == y[want]:
                want += 1
            assert lcp[i] == want


def test_lcs_span_matches_both_oracles():
    """The GSA span length agrees with the DP oracle AND the independent
    rolling-hash binary search; the reported spans index the actual match."""
    rng = random.Random(29)
    for _ in range(15):
        a = "".join(rng.choice("abc ") for _ in range(120))
        b = "".join(rng.choice("abc ") for _ in range(120))
        want = _lcs_dp(a, b)
        length, pa, pb = longest_common_substring_span(a, b, min_len=1)
        assert length == want
        assert length == longest_common_substring_len(a, b, min_len=1)
        if length:
            assert a[pa : pa + length] == b[pb : pb + length]
            # first occurrence (the oracle-checkable canonical choice)
            assert a.find(a[pa : pa + length]) == pa
            assert b.find(b[pb : pb + length]) == pb


def test_planted_span_recovered():
    """A doc B carved out of A at chars 50..350 is recovered with the exact
    span (the VERDICT's planted-span contract)."""
    rng = random.Random(41)
    a = "".join(rng.choice("abcdefghij") for _ in range(600))
    b = a[50:350]
    length, pa, pb = longest_common_substring_span(a, b, min_len=64)
    assert (length, pa, pb) == (300, 50, 0)


def test_span_unicode_char_offsets():
    """Offsets are character (code point) positions, not utf-8 bytes."""
    a = "ü" * 10 + "δcommon segment hereδ" + "ü" * 10
    b = "δcommon segment hereδ"
    length, pa, pb = longest_common_substring_span(a, b, min_len=5)
    assert (length, pa, pb) == (len(b), 10, 0)
    assert a[pa : pa + length] == b


def test_containment_similarity(spark, fixture_corpus):
    """Planted substring pairs verify with similarity == 1.0 end-to-end."""
    from pyspark.sql import functions as F

    from cargo_dupes_spark.operators.exact import prepare
    from cargo_dupes_spark.operators.lsh import (
        DETECTORS,
        pairs_from_buckets,
        signatures,
    )
    from cargo_dupes_spark.operators.substring import verify_substring_pairs

    df, corpus = fixture_corpus
    cfg = CFG
    fps = prepare(df, cfg)
    d = DETECTORS["substring"]
    sigs = signatures(fps, cfg, ("substring",))
    pairs, dropped = pairs_from_buckets(sigs, d.keys, cfg, d.label)
    edges = verify_substring_pairs(pairs, fps, cfg)
    texts = {r.url: r.norm_text for r in fps.select("url", "norm_text").collect()}
    found = {}
    for r in edges.collect():
        key = (min(r.url_a, r.url_b), max(r.url_a, r.url_b))
        found[key] = r
        # spans index the actual common substring in each side's norm_text
        sub_a = texts[r.url_a][r.span_a_start : r.span_a_end]
        sub_b = texts[r.url_b][r.span_b_start : r.span_b_end]
        assert sub_a == sub_b and len(sub_a) >= cfg.min_substring_len
    for a, b in corpus.substring_pairs:
        key = (min(a, b), max(a, b))
        assert key in found, f"planted substring pair missed: {key}"
