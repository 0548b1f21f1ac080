"""Group assembly [J7/J8/F3] + ignore filtering [I1].

Turns cluster labels into the reference's DuplicateGroup shape
(``dupes-core/src/grouper.rs:9-17``): composite group fingerprint (sorted
member fps hashed — ``fingerprint.rs:32-40``), group similarity = MIN
pairwise verified score among members (``grouper.rs:174-203``; exact groups
pin 1.0), deterministic ordering (size desc, similarity desc, fp asc —
``grouper.rs:207-218``), and the ignore anti-join
(``ignore.rs:93-101`` applied at ``lib.rs:129-134``).

Two shapes per tier:
  memberships — (url, group_fp, tier, similarity): the scale shape, no
                per-group arrays, safe for groups of any size.
  dup_groups  — member arrays + ordering, for reports/tests (small output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.fingerprint import composite_fingerprint_col


def cluster_memberships(
    clusters: DataFrame,
    edges: DataFrame,
    fingerprints: DataFrame,
    tier: str,
) -> DataFrame:
    """clusters(url, cluster_id) + verified edges -> memberships rows, in
    one pass keyed by cluster.

    group_fp is the order-independent composite of member doc fingerprints;
    group similarity is the min verified edge similarity inside the cluster
    (the reference's conservative min-pairwise, J7 — our version takes min
    over the verified edge set rather than all pairs, which is the same
    value whenever the clustering is induced by those edges' endpoints).
    Each member row gets its fingerprint, n_tokens and the min similarity of
    the edges it starts from; ONE groupBy on cluster_id then computes the
    composite and the min once per cluster and carries the members through
    as (url, n_tokens) structs that explode back to one row each — no join
    back. (A cluster window would evaluate the sort-join-hash once per
    member row: O(n² log n) for an n-member cluster.) n_tokens is
    denormalized onto the row (8 B/row) so the stats/report aggregates over
    memberships run without a corpus-sized join back to fingerprints.
    """
    # fingerprint width is self-describing: a 128-bit fp column is a 32-char
    # hex STRING (functions/fingerprint.py), so the composite follows suit
    bits = 128 if dict(fingerprints.dtypes).get("fingerprint") == "string" else 64
    edge_min = edges.groupBy(F.col("url_a").alias("url")).agg(
        F.min("similarity").alias("edge_min")
    )
    return (
        clusters.join(
            fingerprints.select("url", "fingerprint", "n_tokens"), "url", "left"
        )
        .join(edge_min, "url", "left")
        .groupBy("cluster_id")
        .agg(
            composite_fingerprint_col("fingerprint", bits=bits).alias("group_fp"),
            F.min("edge_min").alias("similarity"),
            F.collect_list(F.struct("url", "n_tokens")).alias("members"),
        )
        .select("group_fp", "similarity", F.explode("members").alias("m"))
        .select(
            "m.url",
            "group_fp",
            F.lit(tier).alias("tier"),
            "similarity",
            "m.n_tokens",
        )
    )


def assemble_groups(
    memberships: DataFrame, fingerprints: DataFrame
) -> DataFrame:
    """memberships -> dup_groups with member arrays + deterministic order."""
    from .stats import _with_tokens

    with_tokens = _with_tokens(memberships, fingerprints)
    return (
        with_tokens.groupBy("group_fp", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("similarity").alias("similarity"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sort_array(F.collect_list("url")).alias("members"),
        )
        .select(
            "group_fp",
            "tier",
            F.col("n_members").cast("int"),
            "similarity",
            F.col("total_tokens").cast("long"),
            "members",
        )
        .orderBy(
            F.desc("n_members"), F.desc("similarity"), F.asc("group_fp")
        )
    )


def filter_ignored(groups_or_memberships: DataFrame, ignore: DataFrame) -> DataFrame:
    """[I1] drop groups whose composite fingerprint is on the ignore list.
    The ignore table is tiny — broadcast the anti-join (no shuffle of the
    big side). The ignore table's width must match the memberships' (a
    64-bit BIGINT list can't address 128-bit hex groups): mismatches raise
    instead of silently never matching."""
    want = dict(groups_or_memberships.dtypes)["group_fp"]
    have = dict(ignore.dtypes)["fingerprint"]
    if want != have:
        raise ValueError(
            f"ignore-list fingerprint type {have!r} does not match "
            f"memberships group_fp type {want!r} (fingerprint_bits mismatch)"
        )
    ign = F.broadcast(
        ignore.select(F.col("fingerprint").alias("group_fp")).distinct()
    )
    return groups_or_memberships.join(ign, "group_fp", "left_anti")


def stale_ignore_entries(ignore: DataFrame, memberships: DataFrame) -> DataFrame:
    """[I3] ignore entries whose fingerprint matches no live group — the
    cleanup dry-run (``ignore.rs:105-137``)."""
    live = memberships.select(
        F.col("group_fp").alias("fingerprint")
    ).distinct()
    return ignore.join(live, "fingerprint", "left_anti")
