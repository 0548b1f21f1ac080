"""Skew policy in pairs_from_buckets: pair / salt-split / drop tiers
(north_rule: salted repartitioning for hot-host skew; never silent)."""

from __future__ import annotations

import dataclasses

from pyspark.sql import functions as F

from cargo_dupes_spark.config import PipelineConfig
from cargo_dupes_spark.operators.lsh import pairs_from_buckets


def _docs(spark, rows):
    """One row per url with its bucket-key array."""
    return spark.createDataFrame(rows, "url string, band_keys array<bigint>")


def _bucketed(spark, n_urls: int, band_key: int = 77):
    return _docs(spark, [(f"u{i:04d}", [band_key]) for i in range(n_urls)])


def _cfg(cap: int, salt: int) -> PipelineConfig:
    return dataclasses.replace(
        PipelineConfig(), max_bucket_size=cap, salt_buckets=salt
    )


def test_small_bucket_pairs_fully(spark):
    pairs, flagged = pairs_from_buckets(
        _bucketed(spark, 5), "band_keys", _cfg(10, 4), "near"
    )
    assert pairs.count() == 5 * 4 // 2
    assert flagged == []


def test_oversized_bucket_is_salted_not_dropped(spark):
    cfg = _cfg(10, 4)
    n = 30  # cap < 30 <= cap*salt
    pairs, flagged = pairs_from_buckets(_bucketed(spark, n), "band_keys", cfg, "near")
    rows = pairs.collect()
    # every pair must lie within one salt sub-bucket — recompute the
    # sub-bucket assignment with the same expression
    assign = {
        r["url"]: r["s"]
        for r in _bucketed(spark, n)
        .select("url", F.pmod(F.xxhash64("url"), F.lit(cfg.salt_buckets)).alias("s"))
        .collect()
    }
    assert len(rows) > 0
    for r in rows:
        assert assign[r["url_a"]] == assign[r["url_b"]]
    # upper bound: strictly fewer than the full quadratic pair count
    assert len(rows) < n * (n - 1) // 2
    assert len(flagged) == 1 and flagged[0]["action"] == "salted"


def test_giant_bucket_dropped_with_accounting(spark):
    cfg = _cfg(5, 2)
    n = 11  # > cap*salt = 10
    pairs, flagged = pairs_from_buckets(_bucketed(spark, n), "band_keys", cfg, "near")
    assert pairs.count() == 0
    assert len(flagged) == 1
    assert flagged[0]["action"] == "dropped" and flagged[0]["bucket_size"] == n


def test_mixed_buckets(spark):
    cfg = _cfg(10, 4)
    # small = u0000..u0003, big = u0000..u0029, giant = u0000..u0040: each
    # url carries the keys of every bucket it belongs to
    docs = _docs(
        spark,
        [
            (f"u{i:04d}", [k for k, n in ((1, 4), (2, 30), (3, 41)) if i < n])
            for i in range(41)
        ],
    )
    pairs, flagged = pairs_from_buckets(docs, "band_keys", cfg, "near")
    actions = {r["band_key"]: r["action"] for r in flagged}
    assert actions == {2: "salted", 3: "dropped"}
    got = pairs.collect()
    assert {  # small bucket contributes its full quadratic set
        (a, b) for a, b in [(r["url_a"], r["url_b"]) for r in got]
    } >= {("u0000", "u0001"), ("u0000", "u0002"), ("u0002", "u0003")}


def test_hot_key_split_across_band_ids_still_capped(spark):
    """IVF shape: the SAME band_key at different array positions (probe
    ranks). Sizing must count the key as ONE bucket — per-(position, key)
    counts would each sit under the cap while pass 2 groups them together
    into an unbounded quadratic expansion (the exact skew pathology the cap
    exists to bound)."""
    cfg = _cfg(10, 2)
    n = 30  # key 77 at rank i % 3, 10 members per rank: per-rank size == cap
    docs = _docs(
        spark,
        [
            (f"u{i:04d}", [77 if r == i % 3 else 1000 * i + r for r in range(3)])
            for i in range(n)
        ],
    )
    pairs, flagged = pairs_from_buckets(docs, "band_keys", cfg, "near")
    assert len(flagged) == 1
    assert flagged[0]["bucket_size"] == n  # counted on band_key alone
    assert flagged[0]["action"] == "dropped"  # 30 > cap*salt = 20
    assert pairs.count() == 0
