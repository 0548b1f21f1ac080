"""Token k-shingling [F7] — fully JVM-side (no Python in the hot path).

The shingle set plays the role of the reference's normalized-node multiset:
the near-dup similarity (Jaccard over shingles) is the analog of the Dice
tree score (``dupes-core/src/similarity.rs:13-21``). k and the hash seed are
the "shared shingle/signature config" that recall is measured at
(BASELINE.json north_rule).

PERFORMANCE CONTRACT: the token array MUST be materialized as its own
projection (a bound attribute) before the windowing transform runs.
Referencing a `split(...)` *expression* inside the `transform` lambda makes
the codegen re-evaluate the split once per window element — O(tokens²) per
document (measured 29x slower on ~190-token docs). `with_shingles` is the
safe entry point; `shingles_from_tokens` documents the requirement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens_col(norm_col: Column | str) -> Column:
    """norm_text -> token array (single-space tokenization; norm_text is
    already whitespace-collapsed by the normalizer)."""
    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    return F.split(c, " ")


def shingles_from_tokens(toks_col: Column | str, k: int, seed: int = 42) -> Column:
    """Distinct 64-bit hashes of all k-token shingles from a token array.

    ``toks_col`` must name a MATERIALIZED column (see module docstring).
    Each window hashes its k tokens directly with multi-argument xxhash64
    (no intermediate joined string, no slice allocation). Documents shorter
    than k tokens produce a single shingle over their available tokens
    (F.get returns NULL past the end; xxhash64 skips NULL inputs), so tiny
    docs still participate — mirroring the reference's "whole unit is the
    fingerprint" for small trees.
    """
    tc = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    n = F.size(tc)
    windows = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.xxhash64(*[F.get(tc, i + j) for j in range(k)], F.lit(seed)),
    )
    return F.array_distinct(windows)


def with_shingles(
    df: DataFrame,
    norm_col: str = "norm_text",
    k: int = 3,
    seed: int = 42,
    out: str = "shingles",
) -> DataFrame:
    """df + a ``out`` column of distinct shingle hashes of ``norm_col``.

    Materializes the token array in its own projection first (the
    performance contract above), then drops it.
    """
    return (
        df.withColumn("__toks", tokens_col(norm_col))
        .withColumn(out, shingles_from_tokens("__toks", k, seed))
        .drop("__toks")
    )


# --- oracle-reproducible shingle hashing -----------------------------------
# Production shingles hash with Spark's xxhash64 (fastest JVM path, above).
# For CORRECTNESS oracles, a hash BOTH engines compute identically is needed:
# the first 15 hex chars of md5 of the space-joined k-token window — a 60-bit
# non-negative value, so every downstream int64 operation (simhash bit votes,
# xor, bit_count) is overflow-free under Spark's ANSI mode. Verified
# byte-identical between Spark (conv/substring/md5) and DuckDB
# (('0x'||substring(md5(x),1,15))::bigint).


def oracle_shingle_hashes(toks_col: Column | str, k: int) -> Column:
    """Distinct 60-bit md5 hashes of all space-joined k-token windows.

    Same windowing as shingles_from_tokens (short docs yield one window over
    their available tokens; F.slice truncates past the end exactly like
    DuckDB's list slice). ``toks_col`` must be a materialized column (the
    module's performance contract)."""
    tc = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    n = F.size(tc)
    windows = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice(tc, i + 1, k))), 1, 15),
            16,
            10,
        ).cast("long"),
    )
    return F.array_distinct(windows)


def oracle_shingle_hash_sql(shingle_list_expr: str) -> str:
    """DuckDB: list of shingle strings -> list of the same 60-bit hashes."""
    return (
        f"list_transform({shingle_list_expr}, "
        f"x -> ('0x' || substring(md5(x), 1, 15))::bigint)"
    )


def jaccard_col(a: Column | str, b: Column | str) -> Column:
    """Exact Jaccard over two distinct-shingle arrays [J4] — one built-in set
    op (array_intersect), JVM-side; the conservative-zip Dice of the
    reference (similarity.rs:26-46) becomes an exact set intersection here.

    PRECONDITION: each array holds distinct elements (``shingles_from_tokens``
    ends in ``array_distinct``). Then |A∪B| = |A| + |B| − |A∩B|, so only the
    intersection builds a hash set; an ``array_union`` would build a second
    one per pair for the same integer."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    inter = F.size(F.array_intersect(ca, cb))
    union = F.size(ca) + F.size(cb) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
