"""Candidate-pair generation: hash each doc to bucket keys, pair docs
within buckets under a skew cap.

This is the scale-out replacement for the reference's O(bucket²) pairwise
loop within (kind, ⌊log2 size⌋) buckets (J2/J3,
``dupes-core/src/grouper.rs:115-151``): the bucketing idea survives, the
bucket key becomes an LSH band hash (or a SimHash bit-slice, a winnowed
fingerprint, a hyperplane sketch, a centroid), and the "pairwise comparison
within a bucket" becomes a grouped member expansion.

Input shape (every detector): a ONE-ROW-PER-ID frame plus an
ARRAY<BIGINT> key column over it. The pair generator does the single
explode itself; buckets are grouped on the key ALONE, so a caller whose
buckets must stay apart across bands or tables (MinHash band b, SimHash
chunk i, ANN table t) folds that index into its key hash.

Scale notes (the parts that matter at 10^12 docs):
  * band_key is a single 8-byte key; the shuffle carries (8-byte id,
    8-byte key) rows only. AQE skew-join splits residual skew.
  * mega-buckets (boilerplate shingles shared by millions of docs) would
    make the expansion quadratic — buckets above max_bucket_size are
    salted or excluded from pairing and ACCOUNTED (returned for the
    lineage table; never silently dropped — SURVEY §7.4 risk 4).
  * docs of different lang never pair (the reference's hard mismatch on
    MacroCall names / per-language analyzers) — lang is folded into the
    band key, so cross-lang pairs never even co-locate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.shingles import with_shingles
from ..functions.signatures import signature_udf
from ..functions.simhash import simhash_chunk_col


def minhash_band_keys_col(cfg: PipelineConfig):
    """ARRAY<BIGINT> of LSH band keys for one doc: each key folds lang +
    the band index + the band's signature slice into one xxhash64,
    JVM-side."""
    b, r = cfg.lsh_bands, cfg.lsh_rows
    return F.transform(
        F.sequence(F.lit(0), F.lit(b - 1)),
        # xxhash64 hashes the array column directly — no string join; the
        # minhash reference is a bound attribute, so no recompute per band
        lambda i: F.xxhash64(
            F.col("lang"), i, F.slice(F.col("minhash"), i * r + 1, r)
        ),
    )


def chunk_keys_col(hash_col: str, group_col: str, n_chunks: int) -> Column:
    """ARRAY<BIGINT> of pigeonhole bit-slice keys of a 64-bit hash: any
    pair within Hamming distance < n_chunks shares >= 1 of the n_chunks
    slices. Each key folds ``group_col`` (lang, media_type) and the slice
    index, so groups and slices never share a bucket."""
    return F.array(
        *[
            F.xxhash64(
                F.col(group_col),
                F.lit(i),
                simhash_chunk_col(hash_col, i, n_chunks),
            )
            for i in range(n_chunks)
        ]
    )


def signatures(
    docs: DataFrame,
    cfg: PipelineConfig,
    minhash: bool = True,
    simhash: bool = True,
) -> DataFrame:
    """(url, lang, norm_text) -> (url, lang, shingles, simhash, band_keys,
    chunk_keys), without the simhash columns (simhash, chunk_keys) or the
    minhash one (band_keys) that were not asked for. The one near-tier
    sketch builder: the pipeline's signatures stage, the streaming near
    tier and the oracle queries all call it.

    The fused UDF computes both sketches in one Arrow transfer. Of the
    minhash only its LSH keys are kept: banding reads band_keys and verify
    reads shingles (+ simhash). The ~1 KB/doc raw signature was never read
    back; not writing it cuts the signatures stage's write volume ~35-40%,
    and the candidate scans read 8-byte keys, not the sketch.
    """
    sig = signature_udf(
        cfg.num_perm, cfg.minhash_seed, want_minhash=minhash, want_simhash=simhash
    )
    out = (
        with_shingles(
            docs.select("url", "lang", "norm_text"),
            "norm_text",
            cfg.shingle_k,
            cfg.shingle_seed,
        )
        .drop("norm_text")
        .withColumn("_sig", sig(F.col("shingles")))
        .select("url", "lang", "shingles", "_sig.minhash", "_sig.simhash")
        .withColumn("band_keys", minhash_band_keys_col(cfg))
        .withColumn(
            "chunk_keys", chunk_keys_col("simhash", "lang", cfg.simhash_chunks)
        )
    )
    wanted = {"simhash": simhash, "band_keys": minhash, "chunk_keys": simhash}
    return out.select(
        "url", "lang", "shingles", *[c for c, on in wanted.items() if on]
    )


def nid_pairs_from_buckets(
    ids: DataFrame,
    keys: str | Column,
    max_bucket_size: int,
    salt_buckets: int,
    dedup_buckets: bool = True,
    collect_flagged: bool = True,
) -> tuple[DataFrame, list[Row] | None]:
    """Core pair generation: a one-row-per-id frame carrying ``nid BIGINT``
    plus ``keys``, an ARRAY<BIGINT> column name or a ``Column`` over
    ``ids`` -> (nid pairs with nid_a < nid_b, flagged-bucket accounting).

    Each key is one bucket, grouped on the key alone: a caller whose
    buckets must stay apart across bands, chunks or tables folds that index
    into the key hash.

    Skew policy (north_rule "salted repartitioning handles hot-host URL
    skew"; SURVEY §7.4 risk 4 — never silent):
      * size <= max_bucket_size                    — pair normally
      * max < size <= max*salt_buckets             — SALT: split members
        into salt_buckets sub-buckets by nid and pair within each
        sub-bucket. Bounds the fan-out at (size/salt)² per sub-bucket.
        Cross-sub-bucket pairs in this band are lost, but hot docs share
        many OTHER bands (a true near-dup pair collides in any of b bands),
        so the recall hit concentrates on boilerplate mega-groups.
      * size > max*salt_buckets                    — drop + account.

    Two passes over the (nid, band_key) rows of the single explode:
      PASS 1 — a count-only aggregation (map-side combined: the shuffle
      carries (band_key, partial_count), not members) finds mega-buckets.
      The flagged set is collected eagerly — it is bounded by the number of
      distinct mega-buckets, tiny by construction — so no pathological
      bucket ever materializes a member array, and nothing stays persisted
      after the call (the old single-pass design cached full collect_list
      arrays for the session lifetime).
      PASS 2 — the ONE wide shuffle: dropped buckets are excluded and
      salted buckets re-keyed via a broadcast join against the flagged set,
      then each bucket's members are collected and expanded to pairs
      JVM-side with nested array transforms (measured 2x faster than the
      equivalent equi-self-join, which shuffles the band rows twice).

    Flagged rows have (band_key, bucket_size, action in
    {'salted','dropped'}).

    ``collect_flagged`` (default True, the pipeline's accounting contract):
    PASS 1 runs as its own job and the flagged rows come back as a plain
    driver-side ``list[Row]``. Callers that DISCARD the accounting (the
    driver-oracle slice queries) pass False and get None: the mega-bucket
    adjustment then rides PASS 2's own job as a broadcast subtree —
    identical pair output, one fewer eager job per invocation. Memory
    safety is the same either way: dropped buckets are excluded and salted
    buckets re-keyed BEFORE any member array materializes.
    """
    spark = ids.sparkSession
    bucketed = ids.select("nid", F.explode(keys).alias("band_key"))

    # PASS 1 sizes on band_key ALONE — the SAME key PASS 2 groups on, so a
    # key found at different array positions by different ids (IVF:
    # xxhash64(centroid) at whatever probe rank each vector gives it) is
    # sized as ONE bucket and cannot slip past the cap into an unbounded
    # collect_list.
    sizes = bucketed.groupBy("band_key").agg(F.count(F.lit(1)).alias("sz"))
    flagged_df = sizes.filter(F.col("sz") > max_bucket_size).select(
        "band_key",
        F.col("sz").alias("bucket_size"),
        F.when(F.col("sz") <= max_bucket_size * salt_buckets, F.lit("salted"))
        .otherwise(F.lit("dropped"))
        .alias("action"),
    )
    flagged = None
    adjust = flagged_df  # rides PASS 2's job; no-op when empty
    if collect_flagged:
        import pandas as pd

        flagged = flagged_df.collect()
        # the broadcast side as a pandas/Arrow-backed local frame, NOT
        # createDataFrame(row_list): a pickled-Python local RDD costs a
        # Python-worker task per core on every consuming job
        adjust = spark.createDataFrame(
            pd.DataFrame(
                {
                    "band_key": pd.array(
                        [r["band_key"] for r in flagged], dtype="int64"
                    ),
                    "action": [r["action"] for r in flagged],
                }
            ),
            "band_key BIGINT, action STRING",
        ) if flagged else None

    if adjust is not None:
        # one row per band_key (a key shared by two flagged buckets — a
        # 2^-64 collision — must not fan out the join; 'dropped' wins)
        adj = F.broadcast(
            adjust.groupBy("band_key").agg(F.min("action").alias("action"))
        )
        bucketed = (
            bucketed.join(adj, ["band_key"], "left")
            .filter((F.col("action").isNull()) | (F.col("action") == "salted"))
            .withColumn(
                "band_key",
                F.when(
                    F.col("action") == "salted",
                    # sub-bucket key: fold an nid-derived salt into the band
                    # key (nid = xxhash64(url) — url-hash salting)
                    F.xxhash64(
                        F.col("band_key"),
                        F.pmod(F.col("nid"), F.lit(salt_buckets)),
                    ),
                ).otherwise(F.col("band_key")),
            )
            .drop("action")
        )

    grouped = (
        bucketed.groupBy("band_key")
        # array_distinct on the SORTED members: a nid landing twice in one
        # merged bucket (duplicate input rows or a key collision) must not
        # produce self-pairs; distinct-on-sorted keeps the array sorted
        .agg(
            F.array_distinct(F.sort_array(F.collect_list("nid"))).alias("us")
        )
        .withColumn("sz", F.size("us"))
        .filter(F.col("sz") > 1)
    )
    if dedup_buckets:
        # near-identical docs collide in MANY bands, producing the same
        # member set once per band — and every copy would expand to the
        # same C(sz,2) pairs, all killed later by the pair-level dedup.
        # Deduplicating BUCKETS first (one small exchange of the sorted
        # member arrays) shrinks the pair explosion + its dedup shuffle by
        # the band-collision factor (measured 230x pair duplication at the
        # bench corpus; a band's bucket is <= max_bucket_size*salt members,
        # so the dedup rows are bounded). Callers whose tables rarely repeat
        # a member set (independent hyperplane tables, IVF centroids) pass
        # False — for them the extra exchange buys nothing.
        grouped = grouped.dropDuplicates(["us"])
    us = F.col("us")
    pairs_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.col("sz") - 1),
            lambda i: F.transform(
                F.slice(us, i + 1, F.col("sz") - i),
                lambda v: F.struct(
                    F.get(us, i - 1).alias("nid_a"), v.alias("nid_b")
                ),
            ),
        )
    )
    nid_pairs = (
        grouped.select(F.explode(pairs_arr).alias("p"))
        .select("p.nid_a", "p.nid_b")
        .dropDuplicates(["nid_a", "nid_b"])
    )
    return nid_pairs, flagged


def pairs_from_buckets(
    docs: DataFrame,
    keys: str | Column,
    cfg: PipelineConfig,
    tier: str,
    collect_flagged: bool = True,
) -> tuple[DataFrame, list[Row] | None]:
    """One-row-per-url ``docs`` plus ``keys``, an ARRAY<BIGINT> column name
    or a ``Column`` over ``docs`` -> deduped candidate pairs (url_a < url_b)
    + the flagged-bucket accounting of ``nid_pairs_from_buckets`` (see its
    docstring for the bucket grouping and the skew policy, capped by
    cfg.max_bucket_size / cfg.salt_buckets).

    The heavy shuffle carries 8-byte url-hash surrogates (nid), not url
    strings — ~3x fewer shuffle bytes over the ~(docs x bands) band rows;
    the (small) final pair set maps back to urls via an equi-join against
    ``docs`` itself, which is the url map (auto-broadcast under 64 MB; a
    plain shuffled hash join of pairs«docs at 10^12 scale).

    ``docs`` MUST be one-row-per-url: duplicate urls would fan out the
    join-back and multiply output pairs (asserted under
    CARGO_DUPES_DEBUG_CONTRACTS).

    nid = xxhash64(url) collisions (~n²/2^65 — relevant only near 10^12
    docs) are neutralized at the join-back: self-pairs from two urls
    colliding on one nid are filtered (url_a != url_b).

    No url-level dedup is needed after the join-back (the former
    ``dropDuplicates(url_a, url_b)`` was a full extra exchange of the pair
    set — the only pair-set-wide shuffle between the nid dedup and verify):
    with ``docs`` one-row-per-url, url -> nid is a FUNCTION, so a canonical
    url pair (u, v) can only arise from the single nid pair
    (min, max)(xxhash64(u), xxhash64(v)) joined to u's and v's unique map
    rows — nid pairs are distinct by construction (the nid-level
    dropDuplicates above), hence url pairs are too. Even under an nid
    collision the fanned-out url pairs are distinct (different urls).
    Pinned in tests/test_r06_optimizations.py.
    """
    from ..contracts import assert_unique_ids

    assert_unique_ids(docs, "url", "pairs_from_buckets(docs)")
    docs = docs.withColumn("nid", F.xxhash64("url"))
    nid_pairs, flagged = nid_pairs_from_buckets(
        docs,
        keys,
        cfg.max_bucket_size,
        cfg.salt_buckets,
        collect_flagged=collect_flagged,
    )
    map_a = docs.select(F.col("nid").alias("nid_a"), F.col("url").alias("ua"))
    map_b = docs.select(F.col("nid").alias("nid_b"), F.col("url").alias("ub"))
    pairs = (
        nid_pairs.join(map_a, "nid_a", "inner")
        .join(map_b, "nid_b", "inner")
        .filter(F.col("ua") != F.col("ub"))
        .select(
            F.least("ua", "ub").alias("url_a"),
            F.greatest("ua", "ub").alias("url_b"),
        )
        .withColumn("tier", F.lit(tier))
    )
    return pairs, flagged
