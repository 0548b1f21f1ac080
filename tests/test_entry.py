"""Driver-contract smoke: entry() + every query vs its DuckDB oracle at
sf0.001 (the cheap mirror of the driver's sf0.01 gate)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{SF}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"id_a", "id_b", "jaccard_e6"}


def test_every_query_has_an_oracle():
    # round 5 closed the last two no_oracle rows (the ANN top-k surfaces now
    # run in exhaustive-candidate configs, making brute-force SQL the exact
    # expected output) — every driver query is oracle-checked
    q = set(entry_mod.queries())
    o = set(entry_mod.oracle_sql())
    assert o == q


def test_ann_real_config_still_runs_deterministically(spark):
    """The REAL (selective) ANN configs remain exercised: approximate by
    design, so pinned as deterministic non-empty output rather than by SQL
    (the driver rows cover the exhaustive configs; recall is covered by the
    planted-recall oracles)."""
    from cargo_dupes_spark.operators.similarity import ivf_topk, lsh_topk
    from pyspark.sql import functions as F

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    for fn, kw in (
        (lsh_topk, {"n_planes": 8, "n_tables": 8}),
        (ivf_topk, {"n_centroids": 16, "nprobe": 2}),
    ):
        df1 = fn(emb, k=5, **kw).toPandas()
        df2 = fn(emb, k=5, **kw).toPandas()
        assert len(df1) > 0
        assert set(df1.columns) == {"query_id", "neighbor_id", "cosine", "rank"}
        pd.testing.assert_frame_equal(_canon(df1), _canon(df2))


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql()))
def test_query_matches_oracle(spark, duck, name):
    sdf = entry_mod.queries()[name](spark, SF).toPandas()
    ddf = duck.execute(entry_mod.oracle_sql()[name]).fetchdf()
    a, b = _canon(sdf), _canon(ddf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b), f"{name}: {len(a)} vs {len(b)} rows"
    pd.testing.assert_frame_equal(
        a.astype(str), b.astype(str), check_dtype=False
    )


def test_near_clusters_bounds_collect_before_guard(spark, monkeypatch):
    """The regime collect in connected_components_ids takes at most
    threshold+1 edges: an oversized edge set goes to the distributed loop
    without a full driver collect, and the output stays the same."""
    import sys

    from cargo_dupes_spark.operators import connected_components as cc
    from cargo_dupes_spark.operators import dedup

    want = [tuple(r) for r in dedup.near_dup_clusters(spark, SF).collect()]
    threshold = 2
    assert len(want) > threshold + 1  # the slice really is oversized
    collected = []
    df_class = type(spark.range(1))  # the concrete (classic) DataFrame
    to_pandas = df_class.toPandas

    def recording_to_pandas(self):
        pdf = to_pandas(self)
        if sys._getframe(1).f_code.co_name == "connected_components_ids":
            collected.append(len(pdf))
        return pdf

    monkeypatch.setattr(cc, "DRIVER_CC_THRESHOLD", threshold)
    monkeypatch.setattr(df_class, "toPandas", recording_to_pandas)
    got = [tuple(r) for r in dedup.near_dup_clusters(spark, SF).collect()]
    assert collected and max(collected) <= threshold + 1
    assert got == want
