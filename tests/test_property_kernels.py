"""Property-based tests (hypothesis) for the numpy sketch kernels.

The reference's test suite is purely example-based (~361 hand-written cases,
CLAUDE.md:74); these tests go one step further and pin the vectorized
kernels against naive pure-Python oracles over RANDOMIZED inputs, plus the
algebraic identities the sketches must satisfy (MinHash union = elementwise
min, SimHash determinism, LCS symmetry). No SparkSession needed — these run
the kernels directly on synthetic batches, so the module is fast; the one
Spark test (``jaccard_col``) evaluates each example batch in one query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from cargo_dupes_spark.functions.minhash import (
    MINHASH_EMPTY,
    doc_aligned_chunks,
    flatten_shingle_rows,
    minhash_batch,
    perm_params,
)
from cargo_dupes_spark.functions.shingles import jaccard_col
from cargo_dupes_spark.functions.simhash import simhash_batch
from cargo_dupes_spark.operators.substring import longest_common_substring_span

_U64 = 1 << 64
_MSB = 1 << 63

shingle_row = st.lists(
    st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1), max_size=40
)
shingle_batch = st.lists(shingle_row, min_size=1, max_size=12)


def _naive_minhash(row: list[int], a: np.ndarray, b: np.ndarray) -> list[int]:
    """Pure-Python-int oracle of minhash_from_flat's per-row result:
    min over unsigned h(s) = (s ^ b_p) * a_p mod 2^64, MSB-flipped then
    reinterpreted as signed int64 (the kernel's order-preserving view)."""
    out = []
    for p in range(len(a)):
        ap, bp = int(a[p]), int(b[p])
        m = min(((s & (_U64 - 1)) ^ bp) * ap % _U64 for s in row)
        m ^= _MSB
        out.append(m - _U64 if m >= _MSB else m)
    return out


@settings(max_examples=60, deadline=None)
@given(shingle_batch, st.integers(min_value=1, max_value=8), st.integers(0, 2**31))
def test_minhash_matches_pure_python_oracle(batch, num_perm, seed):
    a, b = perm_params(num_perm, seed)
    got = minhash_batch(pd.Series(batch), num_perm, seed)
    for row, sig in zip(batch, got):
        if not row:
            assert list(sig) == [MINHASH_EMPTY] * num_perm
        else:
            assert list(sig) == _naive_minhash(row, a, b)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(-(1 << 63), (1 << 63) - 1), min_size=1, max_size=30),
    st.lists(st.integers(-(1 << 63), (1 << 63) - 1), min_size=1, max_size=30),
    st.integers(0, 2**31),
)
def test_minhash_union_is_elementwise_min(row_a, row_b, seed):
    """sig(A ∪ B)[p] == min(sig(A)[p], sig(B)[p]) — the defining MinHash
    identity; any break means the permutation family isn't per-element."""
    num_perm = 6
    sa, sb, su = minhash_batch(
        pd.Series([row_a, row_b, row_a + row_b]), num_perm, seed
    )
    assert list(su) == [min(x, y) for x, y in zip(sa, sb)]


def _naive_simhash(row: list[int]) -> int:
    """Per-bit majority vote; ties (exactly half ones) vote 0 (kernel uses
    strict '> half')."""
    sig = 0
    for bit in range(64):
        ones = sum((s >> bit) & 1 for s in (x & (_U64 - 1) for x in row))
        if ones * 2 > len(row):
            sig |= 1 << bit
    return sig - _U64 if sig >= _MSB else sig


@settings(max_examples=60, deadline=None)
@given(shingle_batch)
def test_simhash_matches_pure_python_oracle(batch):
    got = simhash_batch(pd.Series(batch))
    for row, sig in zip(batch, got):
        assert int(sig) == (0 if not row else _naive_simhash(row))


@settings(max_examples=40, deadline=None)
@given(shingle_batch)
def test_doc_aligned_chunks_partition_documents(batch):
    """Chunking never splits a document and covers every row exactly once."""
    flat, offsets, idx = flatten_shingle_rows(batch)
    if len(idx) == 0:
        return
    seen_docs: list[int] = []
    for d0, d1, fl, off in doc_aligned_chunks(flat, offsets):
        seen_docs.extend(range(d0, d1))
        assert off[0] == 0 and len(off) == d1 - d0
        # reassembling the chunk's runs reproduces the flat slice
        assert len(fl) >= off[-1]
    assert seen_docs == list(range(len(idx)))


def _dp_lcs(a: str, b: str) -> tuple[int, int, int]:
    """O(n·m) DP longest-common-substring oracle returning
    (len, earliest pos_a, pos_b = b.find(substring))."""
    best, pos_a = 0, 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                # strict '>' keeps the EARLIEST position in a on ties —
                # the span contract documented in substring.py
                if cur[j] > best:
                    best, pos_a = cur[j], i - cur[j]
        prev = cur
    if best == 0:
        return 0, 0, 0
    return best, pos_a, b.find(a[pos_a : pos_a + best])


text = st.text(alphabet="abcdé x", max_size=60)


@settings(max_examples=80, deadline=None)
@given(text, text, st.integers(min_value=1, max_value=5))
def test_lcs_span_matches_dp_oracle(a, b, min_len):
    exp_len, exp_pa, exp_pb = _dp_lcs(a, b)
    if exp_len < min_len:
        exp = (0, 0, 0)
    else:
        exp = (exp_len, exp_pa, exp_pb)
    assert longest_common_substring_span(a, b, min_len) == exp
    assert longest_common_substring_span(a, b, min_len)[0] == exp[0]


@settings(max_examples=40, deadline=None)
@given(text, text, st.integers(min_value=1, max_value=5))
def test_lcs_length_is_symmetric(a, b, min_len):
    assert longest_common_substring_span(
        a, b, min_len
    )[0] == longest_common_substring_span(b, a, min_len)[0]


# ---------------------------------------------------------------------------
# normalization idempotence — randomized, via the DuckDB render (no JVM;
# test_normalize.py::test_normalize_duckdb_parity pins the DuckDB and Spark
# renders byte-equal, so a property proved on one transfers to the other)
# ---------------------------------------------------------------------------

@settings(max_examples=150, deadline=None)
@given(st.text(max_size=160))
def test_normalize_is_idempotent(raw):
    """normalize(normalize(x)) == normalize(x): one pass leaves only
    lowercase letters, placeholders and single spaces, none of which any
    masking/stripping step can match again. A rule-table edit that breaks
    this (e.g. a mask whose replacement itself matches a later pattern)
    would make fingerprints depend on HOW MANY times a doc passed through
    normalization — catastrophic for resume/streaming replay semantics."""
    import duckdb

    from cargo_dupes_spark.functions.normalize import normalize_text_sql

    con = duckdb.connect()
    sql = normalize_text_sql("t")
    once = con.execute(
        f"select {sql} from (select ? as t)", [raw]
    ).fetchone()[0]
    twice = con.execute(
        f"select {sql} from (select ? as t)", [once]
    ).fetchone()[0]
    assert twice == once, (raw, once, twice)


# ---------------------------------------------------------------------------
# media near-dup planted perturbations: the aHash Hamming distances the
# driver oracle (media_near_dupes) rests on are ARITHMETIC facts — property-
# test them over arbitrary images/audio, not just the generator's seeds
# ---------------------------------------------------------------------------
@st.composite
def _images(draw):
    h = draw(st.sampled_from([8, 16, 24]))
    w = draw(st.sampled_from([8, 16, 32]))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    return rng.integers(0, 200, size=(h, w, 3), dtype=np.uint8)


def _ham64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


@settings(max_examples=40, deadline=None)
@given(_images(), st.integers(1, 55))
def test_brightness_shift_never_changes_ahash(img, shift):
    from cargo_dupes_spark.operators.multimodal import _image_features

    ph0, _ = _image_features(img)
    ph1, _ = _image_features(img + np.uint8(shift))  # 199+55 < 255: no clip
    assert _ham64(ph0, ph1) == 0


@settings(max_examples=40, deadline=None)
@given(_images())
def test_extreme_block_swap_hamming_exactly_2(img):
    from cargo_dupes_spark.operators.multimodal import (
        _image_features,
        swap_extreme_blocks,
    )
    from hypothesis import assume

    try:
        swapped = swap_extreme_blocks(img)
    except ValueError:
        assume(False)  # degenerate constant image — excluded by contract
        return
    ph0, _ = _image_features(img)
    ph1, _ = _image_features(swapped)
    assert _ham64(ph0, ph1) == 2


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(100, 4000))
def test_audio_exact_doubling_never_changes_hash(seed, n):
    from cargo_dupes_spark.operators.multimodal import _audio_features

    rng = np.random.default_rng(seed)
    x = rng.integers(-16000, 16000, size=n).astype(np.int16)
    ph0, _ = _audio_features(x)
    ph1, _ = _audio_features((x.astype(np.int32) * 2).astype(np.int16))
    assert _ham64(ph0, ph1) == 0


# ---------------------------------------------------------------------------
# jaccard_col — one set build (|A∪B| = |A| + |B| − |A∩B| over distinct
# arrays) against the two-set formula and exact rationals
# ---------------------------------------------------------------------------

distinct_row = st.one_of(
    # a narrow range makes overlaps (and identical arrays) common
    st.lists(st.integers(-12, 12), unique=True, max_size=12),
    st.lists(
        st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
        unique=True, max_size=12,
    ),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(distinct_row, distinct_row), min_size=1,
                max_size=40))
def test_jaccard_one_set_matches_two_set_formula(spark, pairs):
    from fractions import Fraction

    from pyspark.sql import functions as F

    df = spark.createDataFrame(pairs, "a array<bigint>, b array<bigint>")
    union = F.size(F.array_union("a", "b"))
    two_set = F.when(union == 0, F.lit(0.0)).otherwise(
        F.size(F.array_intersect("a", "b")).cast("double")
        / union.cast("double")
    )
    rows = df.select(
        "a", "b", jaccard_col("a", "b").alias("j"), two_set.alias("j2")
    ).collect()
    for r in rows:
        sa, sb = set(r.a), set(r.b)
        exact = Fraction(len(sa & sb), len(sa | sb)) if sa | sb else 0
        assert r.j == r.j2 == float(exact)
