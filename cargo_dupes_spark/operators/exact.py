"""Per-document preparation + the exact-duplicate tier.

Reference semantics:
  prepare      — scan → parse → normalize → fingerprint per unit
                 (``dupes-core/src/lib.rs:41-70``), min-size gate (P3,
                 ``dupes-rust/src/parser.rs:66-72``), test-code tag/filter
                 (P4, ``parser.rs:14-26``, filter at ``lib.rs:60-62``),
                 exclude patterns (S1/S2, ``scanner.rs:40-90``)
  exact tier   — group equal fingerprints, keep groups with >1 member,
                 deterministic (size desc, fp asc) ordering
                 (``dupes-core/src/grouper.rs:61-90``)

Everything here is narrow transformations + one hash aggregate; the only
Python is the html-extraction pandas UDF (skipped entirely when the corpus
is pre-extracted). At 100 TB the groupBy('fingerprint') is a single shuffle
on a 8-byte key with map-side partial aggregation — members stay in a
normalized memberships table, never a collect_list of documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.extract import extracted_text_col
from ..functions.fingerprint import fingerprint_col
from ..functions.normalize import (
    is_boilerplate_col,
    n_tokens_col,
    normalize_text_col,
)


def prepare_columns(web_pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """web_pages -> fingerprint columns, UNGATED (tag-don't-drop).

    Filters (url excludes, lang selection) are plain pushed-down predicates;
    boilerplate is TAGGED here, mirroring the reference's tag-then-filter of
    test code. The min-token / boilerplate gates live in ``apply_gates`` —
    applied by callers AFTER this projection materializes (e.g. on the
    checkpointed parquet read). Filtering directly on these derived columns
    in the same plan makes Catalyst push the predicate below the projection,
    INLINING the whole normalize chain once per conjunct (~8 evaluations of
    a 5-pass regex chain per row); over a materialized table the same gates
    are trivial column comparisons pushed into the scan.
    """
    df = web_pages
    for pat in cfg.url_exclude:  # S2: substring excludes, OR-folded
        df = df.filter(~F.col("url").contains(pat))
    if cfg.langs:
        df = df.filter(F.col("lang").isin(list(cfg.langs)))

    # html rows pay the Python/Arrow extraction round-trip; rows that arrive
    # pre-extracted (html NULL) bypass the UDF entirely — splitting the scan
    # keeps the 100 TB common case (pre-extracted text) fully JVM-side
    if "html" in df.columns:
        with_html = df.filter(F.col("html").isNotNull()).select(
            "url",
            "lang",
            extracted_text_col("html", "text", cfg.content_type).alias("_ex"),
        ).select(
            "url",
            "lang",
            F.col("_ex.extracted_text").alias("extracted_text"),
            F.col("_ex.extract_error").alias("extract_error"),
        )
        pre_extracted = df.filter(F.col("html").isNull()).select(
            "url",
            "lang",
            F.col("text").alias("extracted_text"),
            # S3 failure tagging for pre-extracted rows too: a row with
            # neither html nor text is counted, never silently absorbed
            F.when(F.col("text").isNull(), F.lit("no html and no text"))
            .alias("extract_error"),
        )
        df = with_html.unionByName(pre_extracted)
    else:
        df = df.select(
            "url",
            "lang",
            F.col("text").alias("extracted_text"),
            F.when(F.col("text").isNull(), F.lit("no html and no text"))
            .alias("extract_error"),
        )
    df = df.select(
        "url",
        "lang",
        normalize_text_col("extracted_text").alias("norm_text"),
        F.length("extracted_text").cast("int").alias("n_chars"),
        "extract_error",
    )
    df = df.select(
        "url",
        "lang",
        "norm_text",
        fingerprint_col("norm_text", bits=cfg.fingerprint_bits).alias(
            "fingerprint"
        ),
        n_tokens_col("norm_text").alias("n_tokens"),
        "n_chars",
        is_boilerplate_col("norm_text").alias("is_boilerplate"),
        "extract_error",
    )
    return df


def apply_gates(fingerprints: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """P3 min-size gate + P4 boilerplate-filter toggle (filter at
    lib.rs:60-62). Call on materialized fingerprint columns."""
    df = fingerprints.filter(F.col("n_tokens") >= cfg.min_tokens)
    if cfg.exclude_boilerplate:
        df = df.filter(~F.col("is_boilerplate"))
    return df


def prepare(web_pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """prepare_columns + gates in one plan — for small/direct use; the
    Pipeline checkpoints prepare_columns first and gates the read instead
    (see prepare_columns docstring for why)."""
    return apply_gates(prepare_columns(web_pages, cfg), cfg)


def exact_memberships(fingerprints: DataFrame) -> DataFrame:
    """Exact tier as a memberships table: every url whose fingerprint occurs
    >1 time, labeled with the fingerprint as group key (G1). A window count
    avoids materializing member arrays — scales to arbitrarily hot groups.
    """
    counts = (
        fingerprints.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > 1)
    )
    return (
        fingerprints.join(counts, "fingerprint", "inner")
        .select(
            "url",
            F.col("fingerprint").alias("group_fp"),
            F.lit("exact").alias("tier"),
            F.lit(1.0).alias("similarity"),
            # n_tokens rides the membership row (free here — the join output
            # already carries the fingerprints columns) so stats/report
            # aggregates over memberships never need the corpus-sized
            # join back to fingerprints (guide §2.4: remove shuffles outright)
            "n_tokens",
        )
    )


def exact_representatives(fingerprints: DataFrame) -> DataFrame:
    """One representative (url, lang, norm_text) per distinct fingerprint
    (min url — the deterministic member ordering of grouper.rs:82-88): the
    input of the signatures stage, which carries only these columns. Near
    and substring detection run on representatives only: the reference
    excludes exact-matched units from the pairwise pool (J1,
    grouper.rs:100-108); carrying one representative keeps exact-dup docs
    participating in near-dup recall accounting (SURVEY §7.4 risk 2).
    """
    # min over a struct ordered by url = the whole min-url row in ONE shuffle
    # (a groupBy + join-back would shuffle the full table twice)
    return (
        fingerprints.groupBy("fingerprint")
        .agg(F.min(F.struct("url", "lang", "norm_text")).alias("_rep"))
        .select("_rep.url", "_rep.lang", "_rep.norm_text")
    )


def exact_groups(fingerprints: DataFrame) -> DataFrame:
    """Small-scale group view with member arrays + deterministic ordering
    (size desc, fp asc — grouper.rs:82-88). For reports/tests; the scale
    path is exact_memberships."""
    return (
        fingerprints.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sort_array(F.collect_list("url")).alias("members"),
        )
        .filter(F.col("n_members") > 1)
        .select(
            F.col("fingerprint").alias("group_fp"),
            F.lit("exact").alias("tier"),
            F.col("n_members").cast("int"),
            F.lit(1.0).alias("similarity"),
            F.col("total_tokens").cast("long"),
            "members",
        )
        .orderBy(F.desc("n_members"), F.asc("group_fp"))
    )
