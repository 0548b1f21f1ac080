"""Opt-in one-row-per-id contract checks (cargo_dupes_spark/contracts.py).

ADVICE r4: the single-shuffle reassembly shapes silently collapse duplicate
ids in caller-supplied frames. With CARGO_DUPES_DEBUG_CONTRACTS=1 each site
must raise instead; with the flag off (the default) nothing changes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cargo_dupes_spark.contracts import assert_unique_ids, contracts_enabled
from cargo_dupes_spark.operators.similarity import lsh_topk


def _embeddings(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )


def test_disabled_by_default(spark, monkeypatch):
    monkeypatch.delenv("CARGO_DUPES_DEBUG_CONTRACTS", raising=False)
    assert not contracts_enabled()
    df = _embeddings(spark, [(1, [1.0, 0.0]), (1, [0.0, 1.0])])
    # duplicate ids, but the check is off — no error, no job
    assert_unique_ids(df, "vec_id", "test")


def test_zero_value_disables(spark, monkeypatch):
    monkeypatch.setenv("CARGO_DUPES_DEBUG_CONTRACTS", "0")
    assert not contracts_enabled()


def test_enabled_unique_ids_pass(spark, monkeypatch):
    monkeypatch.setenv("CARGO_DUPES_DEBUG_CONTRACTS", "1")
    df = _embeddings(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    assert_unique_ids(df, "vec_id", "test")  # must not raise


def test_enabled_duplicate_ids_raise(spark, monkeypatch):
    monkeypatch.setenv("CARGO_DUPES_DEBUG_CONTRACTS", "1")
    df = _embeddings(spark, [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])])
    with pytest.raises(ValueError, match="one-row-per-id.*1 duplicate"):
        assert_unique_ids(df, "vec_id", "test-site")


def test_public_caller_surfaces_violation(spark, monkeypatch):
    """lsh_topk with a duplicate vec_id raises at the re-rank instead of
    nondeterministically picking one vector (the ADVICE r4 scenario)."""
    monkeypatch.setenv("CARGO_DUPES_DEBUG_CONTRACTS", "1")
    rows = [(i, [float(i % 3), 1.0, 0.5]) for i in range(20)] + [
        (5, [9.0, 9.0, 9.0])  # duplicate id, different vector
    ]
    df = _embeddings(spark, rows)
    with pytest.raises(ValueError, match="_pair_vectors"):
        lsh_topk(df, k=2, n_planes=0, n_tables=1).collect()


def test_public_caller_clean_input_unaffected(spark, monkeypatch):
    """Same call, contract-satisfying input: identical output with the flag
    on and off."""
    rows = [(i, [float(i % 3) + 1.0, 1.0, 0.5]) for i in range(12)]
    df = _embeddings(spark, rows)
    monkeypatch.setenv("CARGO_DUPES_DEBUG_CONTRACTS", "1")
    on = sorted(
        tuple(r)
        for r in lsh_topk(df, k=2, n_planes=0, n_tables=1).collect()
    )
    monkeypatch.delenv("CARGO_DUPES_DEBUG_CONTRACTS")
    off = sorted(
        tuple(r)
        for r in lsh_topk(df, k=2, n_planes=0, n_tables=1).collect()
    )
    assert on == off and len(on) > 0
