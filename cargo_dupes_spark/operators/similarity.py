"""Similarity search over embedding columns: brute-force cosine top-k and an
LSH-bucketed scale path.

Extends the engine for training-data pipelines (embeddings table:
vec_id BIGINT, embedding ARRAY<FLOAT>, label INT). The brute-force path is
the exactness baseline (and the DuckDB-oracle-checkable one); the
random-hyperplane LSH path is the 100 TB shape: candidates only meet inside
buckets, turning the O(n²) cross join into per-bucket self-joins — the same
bucket-then-verify skeleton as the near-dup tier.

Column names are fixed: every operator here reads ``vec_id`` (BIGINT, one
row per id) and ``embedding`` (a numeric array), the embeddings table's own
names.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..contracts import assert_unique_ids
from .verify import reassemble_pairs

# mega-bucket salting fan-out of every ANN pair generator (lsh.py)
SALT_BUCKETS = 16
# hyperplane seed (table t draws rng(LSH_SEED + t)) and k-means init seed
LSH_SEED = 13
IVF_SEED = 17


def cosine_col(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two float arrays — zip_with/aggregate, JVM-side."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u * v),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    denom = F.sqrt(dot(ca, ca)) * F.sqrt(dot(cb, cb))
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(ca, cb) / denom)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Exact top-k neighbors per query (cross join + window rank).

    The correctness baseline: at scale use lsh_topk, or broadcast `queries`
    (typical ANN usage has a small query set against a huge corpus — the
    cross join is then a broadcast nested loop, no shuffle of the corpus).
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cand_vec"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_col("query_vec", "cand_vec"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def multi_table_sketch_udf(n_planes: int, n_tables: int):
    """Sign-sketches of an embedding for ALL hash tables in one pass:
    n_tables × n_planes random hyperplanes -> array of n_tables bit keys.
    (Charikar'02 SimHash for angular distance — the embedding-space twin of
    the text SimHash tier.) One Arrow transfer + one matmul computes every
    table's key (the previous per-table UDFs re-scanned the input n_tables
    times); per-table planes keep the rng(LSH_SEED + t) derivation so keys
    are bit-identical to the old per-table sketches. The planes take their
    height from the vectors' width, drawn once per width and cached.

    ``n_planes=0`` is a valid degenerate configuration: zero hyperplanes
    means every vector sketches to key 0 in every table — one bucket per
    table, i.e. the EXHAUSTIVE-candidate configuration. The driver's
    scoring-exactness oracle (ann_lsh_topk) uses it to make the candidate
    set provably complete, so the emitted top-k must equal brute force."""
    planes_by_dim: dict[int, np.ndarray] = {}
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    def planes(dim: int) -> np.ndarray:
        if dim not in planes_by_dim:
            planes_by_dim[dim] = np.hstack(
                [
                    np.random.default_rng(LSH_SEED + t)
                    .standard_normal((dim, n_planes))
                    .astype(np.float32)
                    for t in range(n_tables)
                ]
            )
        return planes_by_dim[dim]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sketch(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float32) for v in vecs])
        bits = (mat @ planes(mat.shape[1])) > 0  # (rows, tables*planes)
        keys = bits.reshape(len(mat), n_tables, n_planes) @ weights
        return pd.Series(list(keys))

    return _sketch


def _ann_candidate_pairs(
    embeddings: DataFrame,
    n_planes: int,
    n_tables: int,
    max_bucket_size: int,
):
    """ids-only LSH candidate generation with the SAME cap/salt/account
    machinery as the text tiers (operators/lsh.py): a dense embedding region
    (the normal case — real embeddings cluster) previously made the
    per-bucket self-join quadratic and carried both full vectors through the
    candidate shuffle. Here the shuffle carries only (id, band_key) and
    mega-buckets are salted or dropped WITH accounting.

    Returns (nid_pairs with nid_a < nid_b, None): every ANN caller discards
    the accounting."""
    from .lsh import nid_pairs_from_buckets

    sketch = multi_table_sketch_udf(n_planes, n_tables)
    # independent hyperplane tables rarely produce identical member sets —
    # the bucket-level dedup pass would be a pure extra exchange here
    # flagged accounting is discarded by every ANN caller -> lazy PASS 1
    return nid_pairs_from_buckets(
        embeddings.select(
            F.col("vec_id").alias("nid"),
            sketch(F.col("embedding")).alias("raw_keys"),
        ),
        # raw sketch keys span only 2^n_planes values — fold the table id
        # in and widen to 64 bits so buckets never merge across tables
        F.transform("raw_keys", lambda k, t: F.xxhash64(t, k)),
        max_bucket_size,
        SALT_BUCKETS,
        dedup_buckets=False,
        collect_flagged=False,
    )


def _pair_vectors(nid_pairs: DataFrame, embeddings: DataFrame) -> DataFrame:
    """(nid_a, nid_b) -> (nid_a, nid_b, va, vb): both sides' vectors via
    ``reassemble_pairs`` (operators/verify.py) — one join, one exchange of
    the vector payload sized by the candidate set, not the corpus.

    ids are the caller's vec_id. CONTRACT (ADVICE r4): ``embeddings`` must
    be one-row-per-id — a duplicate id silently collapses to ONE arbitrary
    vector, and callers (lsh_topk / ivf_topk / embedding_near_dup_pairs)
    inherit this. A pair with either id absent, or whose vector is NULL,
    drops; null vectors are out of contract for every public caller here.

    Set CARGO_DUPES_DEBUG_CONTRACTS=1 to assert the contract per call
    (one id-only aggregate; see cargo_dupes_spark/contracts.py)."""
    assert_unique_ids(embeddings, "vec_id", "_pair_vectors(embeddings)")
    vecs = embeddings.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("v")
    )
    return reassemble_pairs(nid_pairs, vecs, "nid", ["v"]).select(
        "nid_a", "nid_b", F.col("v_a").alias("va"), F.col("v_b").alias("vb")
    )


def _topk_from_pairs(
    nid_pairs: DataFrame, embeddings: DataFrame, k: int
) -> DataFrame:
    """Undirected candidate pairs -> per-query top-k: score each pair ONCE
    (cosine is symmetric — the old shape directed the pairs first and
    computed every cosine twice), then expand to both orientations with a
    shuffle-free projection and window-rank."""
    scored = _pair_vectors(nid_pairs, embeddings).select(
        "nid_a", "nid_b", F.round(cosine_col("va", "vb"), 6).alias("cosine")
    )
    directed = scored.select(
        F.col("nid_a").alias("query_id"),
        F.col("nid_b").alias("neighbor_id"),
        "cosine",
    ).unionByName(
        scored.select(
            F.col("nid_b").alias("query_id"),
            F.col("nid_a").alias("neighbor_id"),
            "cosine",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_topk(
    embeddings: DataFrame,
    k: int,
    n_planes: int = 12,
    n_tables: int = 4,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Approximate all-pairs top-k: n_tables independent hyperplane sketches,
    candidates meet when any sketch matches, exact cosine re-rank on the
    candidate set. Recall grows with n_tables; bucket sizes shrink with
    n_planes; buckets above max_bucket_size are salted (up to SALT_BUCKETS
    sub-buckets) or dropped with accounting, bounding the worst case.

    The candidate shuffle carries 8-byte ids only; vectors meet the (small)
    pair set through the single-shuffle reassembly of ``_pair_vectors``."""
    nid_pairs, _ = _ann_candidate_pairs(
        embeddings, n_planes, n_tables, max_bucket_size
    )
    return _topk_from_pairs(nid_pairs, embeddings, k)


def _kmeans_centroids(sample: np.ndarray, n_centroids: int) -> np.ndarray:
    """Lloyd's k-means (8 iterations) on a driver-side SAMPLE (the standard
    IVF training shape: the coarse quantizer is trained on ~10^4-10^5
    sampled vectors even for billion-vector indexes, then broadcast).
    Deterministic."""
    rng = np.random.default_rng(IVF_SEED)
    sample = sample / np.maximum(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-12
    )
    cent = sample[rng.choice(len(sample), size=n_centroids, replace=False)]
    for _ in range(8):
        sims = sample @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def ivf_topk(
    embeddings: DataFrame,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 2,
    max_bucket_size: int = 4000,
) -> DataFrame:
    """IVF approximate top-k — the second ANN scale path (coarse-quantizer
    bucketing, vs lsh_topk's hyperplane bucketing):

      1. train k-means centroids on a driver-side sample of the 10^4
         lowest ids (broadcast),
      2. assign every vector to its nprobe nearest centroids (one Arrow
         pass; multi-assignment replaces a separate query-time probe so the
         all-pairs semantics stay symmetric),
      3. candidates meet inside centroid buckets via the same
         capped/salted/accounted pair machinery as every other tier,
      4. exact cosine re-rank, window top-k.

    At 10^12 docs the assignment is a single UDF pass over the corpus and
    buckets shuffle 8-byte ids only; n_centroids scales with corpus size
    (sqrt(n) rule of thumb) and nprobe trades recall for bucket fan-out."""
    from .lsh import nid_pairs_from_buckets

    # orderBy before limit: TakeOrderedAndProject keeps the training sample
    # deterministic across runs/partitionings (a bare limit() is not)
    sample_rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(10_000)
        .select("embedding")
        .collect()
    )
    if not sample_rows:
        raise ValueError("embeddings table is empty")
    sample = np.array([r[0] for r in sample_rows], dtype=np.float32)
    cent = _kmeans_centroids(sample, min(n_centroids, len(sample)))
    nprobe_eff = min(nprobe, len(cent))
    cent_t = cent.T.astype(np.float32)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _assign(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float32) for v in vecs])
        norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = (mat / norms) @ cent_t
        top = np.argsort(-sims, axis=1)[:, :nprobe_eff]
        return pd.Series(list(top.astype(np.int32)))

    # one bucket per centroid — member sets don't repeat
    nid_pairs, _ = nid_pairs_from_buckets(
        embeddings.select(
            F.col("vec_id").alias("nid"),
            _assign(F.col("embedding")).alias("cells"),
        ),
        F.transform("cells", lambda c: F.xxhash64(c)),
        max_bucket_size,
        SALT_BUCKETS,
        dedup_buckets=False,
        collect_flagged=False,
    )
    return _topk_from_pairs(nid_pairs, embeddings, k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= threshold), the
    semantic-dedup detector: LSH-bucketed candidates (6 tables of 10
    hyperplanes) + exact cosine verify,
    emitting (id_a < id_b) edges ready for the same CC clustering.

    Threshold-filters ALL verified candidates — no top-k truncation, so a
    node with hundreds of neighbors above threshold keeps every edge (the
    old top-50 construction silently lost edges in dense clusters)."""
    nid_pairs, _ = _ann_candidate_pairs(embeddings, 10, 6, max_bucket_size)
    return (
        _pair_vectors(nid_pairs, embeddings)
        .select(
            F.col("nid_a").alias("id_a"),
            F.col("nid_b").alias("id_b"),
            F.round(cosine_col("va", "vb"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
