"""Paragraph segmentation [N3] — sub-document units with char offsets.

The reference segments code into statement/block sub-units with line ranges
(``dupes-rust/src/normalizer/expr.rs:255-303``, spans kept on the CodeUnit,
``dupes-core/src/code_unit.rs:41-55``); the webtext analog splits a document
into paragraphs on a blank line (``"\n\n"``) and keeps each segment's
half-open character span [char_start, char_end) in the original text — the
same coordinate system the substring tier's span offsets use.

Fully JVM-side: split + posexplode + a running-offset window sum (one
shuffle on doc_id — each doc's segments land on one task, the narrow shape
this needs at any scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def segment_paragraphs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, seg_idx, char_start, char_end, seg_text).

    Offsets satisfy text[char_start:char_end] == seg_text. Empty segments
    (leading/trailing/doubled separators) are dropped AFTER offsets are
    computed, so surviving spans stay exact.
    """
    seg = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), "\n\n", -1)).alias(
            "seg_idx", "seg_text"
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("seg_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    char_start = F.coalesce(
        F.sum(F.length("seg_text") + 2).over(w), F.lit(0)
    ).cast("long")
    return (
        seg.select(
            "doc_id",
            F.col("seg_idx").cast("long").alias("seg_idx"),
            char_start.alias("char_start"),
            (char_start + F.length("seg_text")).cast("long").alias("char_end"),
            "seg_text",
        )
        .filter(F.length("seg_text") > 0)
    )


def segment_paragraphs_sql(table_expr: str) -> str:
    """DuckDB equivalent for the correctness oracle: ``table_expr`` yields
    (doc_id, text)."""
    return f"""
        with __t as (select doc_id, text as t2 from {table_expr}),
        __segs as (select doc_id,
            unnest(string_split(t2, e'\\n\\n')) as seg_text,
            unnest(range(0, len(string_split(t2, e'\\n\\n')))) as seg_idx
            from __t),
        __off as (select doc_id, seg_idx, seg_text,
            coalesce(sum(length(seg_text) + 2) over (
                partition by doc_id order by seg_idx
                rows between unbounded preceding and 1 preceding), 0
            )::bigint as char_start
            from __segs)
        select doc_id, seg_idx::bigint as seg_idx, char_start,
               (char_start + length(seg_text))::bigint as char_end, seg_text
        from __off where length(seg_text) > 0
    """
