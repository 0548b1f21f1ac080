"""Candidate-pair generation: MinHash/LSH banding + SimHash Hamming buckets.

This is the scale-out replacement for the reference's O(bucket²) pairwise
loop within (kind, ⌊log2 size⌋) buckets (J2/J3,
``dupes-core/src/grouper.rs:115-151``): the bucketing idea survives, the
bucket key becomes an LSH band hash (or a SimHash bit-slice), and the
"pairwise comparison within a bucket" becomes an equi-self-join.

Scale notes (the parts that matter at 10^12 docs):
  * band_key is a single 8-byte join key; the self-join is a shuffled hash
    join co-partitioned on it. AQE skew-join splits residual skew.
  * mega-buckets (boilerplate shingles shared by millions of docs) would
    make the self-join quadratic — buckets above cfg.max_bucket_size are
    excluded from pairing and ACCOUNTED (returned for the lineage table;
    never silently dropped — SURVEY §7.4 risk 4).
  * docs of different lang never pair (the reference's hard mismatch on
    MacroCall names / per-language analyzers) — lang is folded into the
    band key, so cross-lang pairs never even co-locate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.simhash import simhash_chunk_col


def minhash_band_keys_col(cfg: PipelineConfig):
    """ARRAY<BIGINT> of LSH band keys for one doc: band_key folds lang +
    band_id + the band's signature slice into one xxhash64, JVM-side."""
    b, r = cfg.lsh_bands, cfg.lsh_rows
    return F.transform(
        F.sequence(F.lit(0), F.lit(b - 1)),
        # xxhash64 hashes the array column directly — no string join; the
        # minhash reference is a bound attribute, so no recompute per band
        lambda i: F.xxhash64(
            F.col("lang"), i, F.slice(F.col("minhash"), i * r + 1, r)
        ),
    )


def simhash_chunk_keys_col(cfg: PipelineConfig):
    """ARRAY<BIGINT> of SimHash bit-slice keys: pigeonhole guarantees any
    pair with Hamming distance <= hamming_threshold shares >= 1 of the
    cfg.simhash_chunks slices."""
    n = cfg.simhash_chunks
    return F.array(
        *[
            F.xxhash64(F.col("lang"), F.lit(i), simhash_chunk_col("simhash", i, n))
            for i in range(n)
        ]
    )


def minhash_bands(signatures: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(url, band_id, band_key): one row per band per doc.

    When the input carries a precomputed ``band_keys`` column (the pipeline
    stores one: 32 x 8 B vs re-deriving from the 1 KB minhash column on
    EVERY candidate-stage scan — pair generation scans the table twice), it
    is exploded directly; otherwise keys are derived on the fly.
    """
    bands = (
        F.col("band_keys")
        if "band_keys" in signatures.columns
        else minhash_band_keys_col(cfg)
    )
    return signatures.select(
        "url", F.posexplode(bands).alias("band_id", "band_key")
    )


def simhash_buckets(signatures: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(url, band_id, band_key) from SimHash bit-slices (one posexplode —
    a single scan of the input, mirroring minhash_bands), preferring a
    precomputed ``chunk_keys`` column when present."""
    chunks = (
        F.col("chunk_keys")
        if "chunk_keys" in signatures.columns
        else simhash_chunk_keys_col(cfg)
    )
    return signatures.select(
        "url", F.posexplode(chunks).alias("band_id", "band_key")
    )


def nid_pairs_from_buckets(
    bucketed: DataFrame,
    cfg: PipelineConfig,
    dedup_buckets: bool = True,
    collect_flagged: bool = True,
) -> tuple[DataFrame, list[Row] | None]:
    """Core pair generation over (nid BIGINT, band_id, band_key) bucket rows
    -> (nid pairs with nid_a < nid_b, flagged-bucket accounting).

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

    Two passes over the band rows:
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

    Flagged rows have (band_id, band_key, bucket_size, action in
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
    cap = cfg.max_bucket_size
    salt = cfg.salt_buckets
    spark = bucketed.sparkSession

    # PASS 1 sizes on band_key ALONE — the SAME key PASS 2 groups on. A
    # caller whose band_key repeats across band_ids (IVF: band_key =
    # xxhash64(centroid) for every probe rank) would otherwise see a hot
    # bucket undercounted per (band_id, band_key) and slip past the cap
    # into an unbounded collect_list. band_id survives as a min() diagnostic
    # in the flagged accounting; text tiers fold band_id into the xxhash64
    # key so for them the two groupings are identical anyway.
    sizes = bucketed.groupBy("band_key").agg(
        F.count(F.lit(1)).alias("sz"), F.min("band_id").alias("band_id")
    )
    flagged_df = sizes.filter(F.col("sz") > cap).select(
        F.col("band_id").cast("int").alias("band_id"),
        "band_key",
        F.col("sz").alias("bucket_size"),
        F.when(F.col("sz") <= cap * salt, F.lit("salted"))
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

    bucketed = bucketed.select("nid", "band_key")
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
                        F.col("band_key"), F.pmod(F.col("nid"), F.lit(salt))
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
    bucketed: DataFrame,
    cfg: PipelineConfig,
    tier: str,
    urls: DataFrame | None = None,
    collect_flagged: bool = True,
) -> tuple[DataFrame, list[Row] | None]:
    """Bucket rows (url, band_id, band_key) -> deduped candidate pairs
    (url_a < url_b) + the flagged-bucket accounting of
    ``nid_pairs_from_buckets`` (see its docstring for the skew policy).

    The heavy shuffle carries 8-byte url-hash surrogates (nid), not url
    strings — ~3x fewer shuffle bytes over the ~(docs x bands) band rows;
    the (small) final pair set maps back to urls via an equi-join against
    the distinct url list (auto-broadcast under 64 MB; a plain shuffled
    hash join of pairs«docs at 10^12 scale).

    ``urls``, when given, MUST be one-row-per-url (signatures/reps frames
    are); duplicate urls would fan out the join-back and multiply output
    pairs. Callers that can't guarantee that should pass None (a distinct()
    over the band rows is derived, at the cost of an extra shuffle).

    nid = xxhash64(url) collisions (~n²/2^65 — relevant only near 10^12
    docs) are neutralized at the join-back: self-pairs from two urls
    colliding on one nid are filtered (url_a != url_b).

    No url-level dedup is needed after the join-back (the former
    ``dropDuplicates(url_a, url_b)`` was a full extra exchange of the pair
    set — the only pair-set-wide shuffle between the nid dedup and verify):
    with ``urls`` one-row-per-url, url -> nid is a FUNCTION, so a canonical
    url pair (u, v) can only arise from the single nid pair
    (min, max)(xxhash64(u), xxhash64(v)) joined to u's and v's unique map
    rows — nid pairs are distinct by construction (the nid-level
    dropDuplicates above), hence url pairs are too. Even under an nid
    collision the fanned-out url pairs are distinct (different urls).
    Pinned in tests/test_r06_optimizations.py.
    """
    if urls is not None:
        from ..contracts import assert_unique_ids

        assert_unique_ids(urls, "url", "pairs_from_buckets(urls)")
    url_src = urls.select("url") if urls is not None else (
        bucketed.select("url").distinct()
    )
    url_map = url_src.withColumn("nid", F.xxhash64("url"))
    nid_rows = bucketed.select(
        F.xxhash64("url").alias("nid"), "band_id", "band_key"
    )
    nid_pairs, flagged = nid_pairs_from_buckets(
        nid_rows, cfg, collect_flagged=collect_flagged
    )
    map_a = url_map.select(F.col("nid").alias("nid_a"), F.col("url").alias("ua"))
    map_b = url_map.select(F.col("nid").alias("nid_b"), F.col("url").alias("ub"))
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
