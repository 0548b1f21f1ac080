"""Candidate verification [J4/J5] — exact Jaccard on shingle sets.

The reference verifies candidates with an exact Dice tree-compare
(``dupes-core/src/similarity.rs:13-46``); here candidates are verified with
EXACT Jaccard over distinct shingle arrays (not the MinHash estimate — the
recall gate requires the verify step to never drop a true pair,
SURVEY §7.4 risk 2). Dice and Jaccard are monotone-related (D = 2J/(1+J)).

Every pair-verify path in the package (this module, substring LCS verify,
the embedding re-rank, the streaming tiers) gets both sides' payloads from
``reassemble_pairs``: one join, one payload exchange sized by the candidate
set. SimHash-tier candidates get a cheap bit_count(xor) Hamming prefilter
before the Jaccard check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..contracts import assert_unique_ids
from ..functions.shingles import jaccard_col
from ..functions.simhash import hamming_col


def reassembly_partitions(df: DataFrame) -> int:
    """Partition count for the pair-reassembly exchange of
    ``reassemble_pairs``: the session's configured
    shuffle width — what a non-AQE plan would use. The reassembly groupBy
    feeds CPU-DENSE work (exact Jaccard over shingle arrays, the LCS
    kernel, cosine re-rank) whose cost per shuffled byte is far above
    typical, so AQE's byte-based coalescing (advisory 4 MB) lands it on
    1-2 tasks and serializes the verify compute (measured: the minhash and
    substring verify jobs each ran 0.7+ s on ONE task at bench scale). An
    explicit repartition(N, pair_key) is exempt from AQE coalescing and
    adds NO extra exchange — the groupBy on a superset of the keys reuses
    the partitioning. Scale-adaptive: N is the cluster-sized shuffle
    width, never a local constant."""
    try:
        return int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):  # 'auto' or unset -> core count
        return df.sparkSession.sparkContext.defaultParallelism


def reassemble_pairs(
    pairs: DataFrame, payload: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """Give each candidate pair both sides' payload columns, moving the
    payload through ONE join.

    ``pairs`` carries ``{key}_a``, ``{key}_b`` and any pass-through columns
    (e.g. ``tier``); ``payload`` is one row per ``key``. Returns the pair
    columns plus ``{c}_a`` and ``{c}_b`` for each ``c`` in ``cols``, one row
    per pair, with inner-join semantics: a pair whose side is absent from
    ``payload`` (or carries a NULL payload value) drops.

    Shape: each pair explodes to two light (pair, nid, side) rows, ONE inner
    join on nid = xxhash64(key) pulls the payload (single scan, at most one
    exchange of the payload table), and a groupBy on the pair reassembles
    both sides in an exchange sized by the candidate set, not the corpus.
    The join probes on an 8-byte key whatever the key's type; nid
    collisions (two keys hashing alike would attach a foreign payload row)
    are neutralized by the key-equality filter BEFORE the groupBy — the
    true row always survives it, the foreign one never reaches the group.

    CONTRACT (ADVICE r4): ``payload`` is one row per key. A duplicate key
    silently collapses to one arbitrary row in the side-masked first();
    callers assert it under CARGO_DUPES_DEBUG_CONTRACTS (contracts.py).
    """
    ka, kb = f"{key}_a", f"{key}_b"
    exploded = pairs.select(
        *pairs.columns,
        F.explode(
            F.array(
                F.struct(F.xxhash64(ka).alias("nid"), F.lit("a").alias("side")),
                F.struct(F.xxhash64(kb).alias("nid"), F.lit("b").alias("side")),
            )
        ).alias("_e"),
    ).select(*pairs.columns, "_e.nid", "_e.side")
    side = F.col("side")
    pay = payload.select(
        F.xxhash64(key).alias("nid"), F.col(key).alias("_key"), *cols
    )
    matched = exploded.join(pay, "nid", "inner").filter(
        F.when(side == "a", F.col(ka) == F.col("_key")).otherwise(
            F.col(kb) == F.col("_key")
        )
    )

    def side_first(col: str, s: str):
        # exactly one row per (pair, side) after the key filter, so first()
        # over the side-masked column is deterministic
        return F.first(F.when(side == s, F.col(col)), ignorenulls=True).alias(
            f"{col}_{s}"
        )

    sides = [(c, s) for c in cols for s in ("a", "b")]
    return (
        matched.repartition(reassembly_partitions(matched), ka, kb)
        .groupBy(*pairs.columns)
        .agg(*[side_first(c, s) for c, s in sides])
        .dropna(subset=[f"{c}_{s}" for c, s in sides])
    )


def verify_pairs(
    pairs: DataFrame, signatures: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """(url_a, url_b, tier) -> verified edges with exact similarity.

    Shingles (and simhash, when ``signatures`` carries it) reach each pair
    through ``reassemble_pairs``. The Hamming prefilter applies only then;
    the streaming near tier's signatures have no simhash column.
    """
    assert_unique_ids(signatures, "url", "verify_pairs(signatures)")
    has_simhash = "simhash" in signatures.columns
    joined = reassemble_pairs(
        pairs, signatures, "url",
        ["shingles", "simhash"] if has_simhash else ["shingles"],
    )
    if has_simhash:
        # Hamming prefilter only constrains simhash-tier candidates
        joined = joined.filter(
            (F.col("tier") != F.lit("simhash"))
            | (hamming_col("simhash_a", "simhash_b") <= cfg.hamming_threshold)
        )
    return (
        joined.withColumn(
            "similarity", jaccard_col("shingles_a", "shingles_b")
        )
        .filter(F.col("similarity") >= cfg.jaccard_threshold)
        .select("url_a", "url_b", "tier", "similarity")
    )
