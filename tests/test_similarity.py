"""ANN similarity search: brute-force exactness + LSH recall."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from cargo_dupes_spark.operators.similarity import (
    brute_force_topk,
    cosine_col,
    embedding_near_dup_pairs,
    lsh_topk,
)


def _make_vectors(spark, n=120, dim=16, seed=9):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float64)
    rows = [(i, vecs[i].tolist(), 0) for i in range(n)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int"),
        vecs,
    )


def test_cosine_col_matches_numpy(spark):
    df, vecs = _make_vectors(spark, n=10)
    a, b = df.alias("a"), df.alias("b")
    rows = (
        a.crossJoin(b)
        .select(
            F.col("a.vec_id").alias("i"),
            F.col("b.vec_id").alias("j"),
            cosine_col(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
        )
        .collect()
    )
    for r in rows:
        u, v = vecs[r.i], vecs[r.j]
        want = float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))
        assert abs(r.c - want) < 1e-9


def test_brute_force_topk_exact(spark):
    df, vecs = _make_vectors(spark, n=60)
    got = brute_force_topk(df, df.filter(F.col("vec_id") < 5), k=3).collect()
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms.T
    for q in range(5):
        order = [
            j for j in np.argsort(-np.round(sims[q], 6), kind="stable")
            if j != q
        ][:3]
        mine = [r.neighbor_id for r in got if r.query_id == q]
        assert set(mine) == set(int(x) for x in order)


def test_lsh_topk_high_recall_on_planted(spark):
    """Planted exact-direction duplicates are always found (identical
    sketches in every table)."""
    df, vecs = _make_vectors(spark, n=80)
    scaled = df.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(3.0)).alias("embedding"),
        "label",
    )
    both = df.unionByName(scaled)
    pairs = embedding_near_dup_pairs(both, threshold=0.999)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    want = {(i, i + 1000) for i in range(80)}
    assert want <= got


def test_near_dup_pairs_dense_cluster_recall(spark):
    """A planted dense cluster (80 mutually-near vectors — every node has 79
    neighbors above threshold, well past the old top-50 truncation) keeps
    essentially all its edges: recall vs brute force >= 0.95, and nodes with
    > 50 surviving edges must exist (the old k=50 construction capped every
    node at 50)."""
    rng = np.random.default_rng(23)
    base = rng.standard_normal(16)
    base /= np.linalg.norm(base)
    dense = base + 0.01 * rng.standard_normal((80, 16))
    background = rng.standard_normal((40, 16))
    vecs = np.vstack([dense, background])
    rows = [(i, vecs[i].tolist(), 0) for i in range(len(vecs))]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    threshold = 0.99
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = np.round(norms @ norms.T, 6)
    want = {
        (i, j)
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if sims[i, j] >= threshold
    }
    assert len(want) > 2000  # genuinely dense: ~C(80,2) edges
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(df, threshold=threshold).collect()
    }
    recall = len(want & got) / len(want)
    assert recall >= 0.95, f"dense-cluster recall {recall:.4f}"
    # no silent per-node truncation: some node keeps > 50 edges
    from collections import Counter

    deg = Counter()
    for a, b in got:
        deg[a] += 1
        deg[b] += 1
    assert max(deg.values()) > 50


def test_ivf_topk_recall_on_clustered(spark):
    """IVF top-1 agrees with brute force on clustered data (neighbors share
    a centroid by construction — the regime IVF is designed for)."""
    from cargo_dupes_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(13)
    centers = rng.standard_normal((10, 16)) * 3
    vecs = np.vstack(
        [c + 0.2 * rng.standard_normal((6, 16)) for c in centers]
    )
    rows = [(i, vecs[i].tolist(), 0) for i in range(len(vecs))]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    bf = brute_force_topk(df, df, k=1).collect()
    iv = ivf_topk(df, k=1, n_centroids=10, nprobe=2).collect()
    bf_top = {r.query_id: r.neighbor_id for r in bf}
    iv_top = {r.query_id: r.neighbor_id for r in iv}
    hits = sum(1 for q, n in bf_top.items() if iv_top.get(q) == n)
    assert hits / len(bf_top) >= 0.8


def test_lsh_topk_reasonable_recall(spark):
    """LSH top-1 agrees with brute force on CLUSTERED data (true neighbors
    at cosine ~0.95 — the regime hyperplane LSH is designed for; random
    gaussian vectors have near-orthogonal neighbors and are out of scope)."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((20, 16))
    vecs = np.vstack(
        [c + 0.15 * rng.standard_normal((5, 16)) for c in centers]
    )
    rows = [(i, vecs[i].tolist(), 0) for i in range(len(vecs))]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    bf = brute_force_topk(df, df, k=1).collect()
    ls = lsh_topk(df, k=1, n_planes=8, n_tables=8).collect()
    bf_top = {r.query_id: r.neighbor_id for r in bf}
    ls_top = {r.query_id: r.neighbor_id for r in ls}
    hits = sum(1 for q, n in bf_top.items() if ls_top.get(q) == n)
    assert hits / len(bf_top) >= 0.8
