"""Duplication statistics [G2/G3/G4] — DuplicationStats analog.

Reference: ``compute_stats``/``compute_stats_with_sub``
(``dupes-core/src/grouper.rs:232-273``) counts units, groups, and duplicated
lines per tier, with zero-guarded percentage helpers (``grouper.rs:38-56``).
Token counts play the role of line counts. One pass over memberships + one
over the corpus — all built-in aggregates.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TIERS = ("exact", "near", "substring")


def _with_tokens(memberships: DataFrame, fingerprints: DataFrame) -> DataFrame:
    """memberships rows with n_tokens. The pipeline's memberships table
    carries n_tokens denormalized (operators/exact.py / groups.py), so the
    former corpus-sized join back to fingerprints is skipped outright
    (guide §2.4); externally-built membership frames without the column
    keep the join (back-compat)."""
    if "n_tokens" in memberships.columns:
        return memberships
    return memberships.join(
        fingerprints.select("url", "n_tokens"), "url", "left"
    )


def compute_stats(fingerprints: DataFrame, memberships: DataFrame) -> DataFrame:
    """Single-row stats DataFrame over the run.

    Columns (per tier t in exact/near/substring):
      {t}_groups, {t}_docs, {t}_tokens — group count, member docs, member
      token sum; plus total_docs, total_tokens and zero-guarded
      {t}_token_percent.
    """
    totals = fingerprints.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("total_tokens"),
    )
    with_tokens = _with_tokens(memberships, fingerprints)
    # global aggregates always yield exactly one row, even on empty input —
    # robust where a pivot over an empty memberships table would vanish
    out = totals
    for tier in ("exact", "near", "substring"):
        tier_agg = with_tokens.filter(F.col("tier") == tier).agg(
            F.countDistinct("group_fp").cast("long").alias(f"{tier}_groups"),
            F.count(F.lit(1)).cast("long").alias(f"{tier}_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0))
            .cast("long")
            .alias(f"{tier}_tokens"),
        )
        out = out.crossJoin(tier_agg)
    for tier in ("exact", "near", "substring"):
        # zero-guarded percentage (grouper.rs:38-56)
        out = out.withColumn(
            f"{tier}_token_percent",
            F.when(F.col("total_tokens") == 0, F.lit(0.0)).otherwise(
                F.round(
                    F.col(f"{tier}_tokens") * 100.0 / F.col("total_tokens"), 6
                )
            ),
        )
    return out.select(
        "total_docs",
        "total_tokens",
        *[
            c
            for tier in ("exact", "near", "substring")
            for c in (
                f"{tier}_groups",
                f"{tier}_docs",
                f"{tier}_tokens",
                f"{tier}_token_percent",
            )
        ],
    )


# ---------------------------------------------------------------------------
# fixed-latency-regime variant (VERDICT r4 #2a): the crossJoin plan above is
# one serial multi-stage Spark job whose 3-5 s wall is the SAME at 2 and 32
# cores (BASELINE.md cap #1). The split below computes the identical row
# from (a) one corpus-totals aggregate over fingerprints, and (b) ONE
# groupBy-tier pass over memberships, assembled driver-side. (An
# Observation on the memberships write cannot replace (b): observe()
# forbids distinct aggregates, and {tier}_groups is a countDistinct.)
# ---------------------------------------------------------------------------
def stats_totals(fingerprints: DataFrame) -> DataFrame:
    """Corpus totals half of the stats row — depends ONLY on fingerprints."""
    return fingerprints.agg(
        F.count(F.lit(1)).cast("long").alias("total_docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0))
        .cast("long")
        .alias("total_tokens"),
    )


def tier_aggregates(fingerprints: DataFrame, memberships: DataFrame) -> DataFrame:
    """Per-tier membership aggregates — one groupBy pass (<= |TIERS| rows)."""
    with_tokens = _with_tokens(memberships, fingerprints)
    return with_tokens.groupBy("tier").agg(
        F.countDistinct("group_fp").cast("long").alias("groups"),
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("tokens"),
    )


def _round_half_up6(value: float) -> float:
    """Spark's round(double, 6): BigDecimal HALF_UP on the exact binary
    value — Decimal(float) is that exact value; Python's round() is
    half-even and would diverge at .xxxxxx5 boundaries."""
    return float(
        Decimal(value).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


STATS_SCHEMA = T.StructType(
    [T.StructField("total_docs", T.LongType()), T.StructField("total_tokens", T.LongType())]
    + [
        T.StructField(f"{tier}_{c}", T.LongType())
        if c != "token_percent"
        else T.StructField(f"{tier}_token_percent", T.DoubleType())
        for tier in TIERS
        for c in ("groups", "docs", "tokens", "token_percent")
    ]
)


def assemble_stats_row(
    spark: SparkSession, totals_row, tier_rows
) -> DataFrame:
    """(collected totals row, collected tier rows) -> the SAME single-row
    stats DataFrame compute_stats builds (schema, zero-guards and HALF_UP
    rounding pinned against it in tests/test_check_report.py)."""
    total_docs = int(totals_row["total_docs"])
    total_tokens = int(totals_row["total_tokens"])
    by_tier = {r["tier"]: r for r in tier_rows}
    vals: list = [total_docs, total_tokens]
    for tier in TIERS:
        r = by_tier.get(tier)
        groups = int(r["groups"]) if r else 0
        docs = int(r["docs"]) if r else 0
        tokens = int(r["tokens"]) if r else 0
        pct = (
            0.0
            if total_tokens == 0
            else _round_half_up6(tokens * 100.0 / total_tokens)
        )
        vals += [groups, docs, tokens, pct]
    import pandas as pd

    # pandas/Arrow-backed single-row frame: createDataFrame(row_list) is a
    # pickled-Python RDD that pays a Python-worker task on every consuming
    # job (the stats table is read by the bench, the report and the check
    # gate); Arrow converts JVM-side
    pdf = pd.DataFrame(
        {f.name: [v] for f, v in zip(STATS_SCHEMA.fields, vals)}
    )
    return spark.createDataFrame(pdf, STATS_SCHEMA)
