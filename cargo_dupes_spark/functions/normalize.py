"""Text normalization — the analog of the reference's AST normalization.

The reference canonicalizes code by erasing identifier names (positional
placeholders, ``dupes-core/src/node.rs:268-278``) and literal values
(``dupes-rust/src/normalizer/helpers.rs:34-46``) so that ``foo(x)+1`` equals
``bar(y)+2``. For webtext the same tiering is achieved by canonicalizing the
string: case/quote folding, masking volatile spans (numbers, URLs, emails)
with typed placeholders, and collapsing punctuation/whitespace.

The rule table below is DATA (mirroring the reference's table-driven
``NodeMapping``, ``dupes-treesitter/src/mapping.rs:11-62``): each step is
rendered BOTH as a Spark Column expression (JVM-side, whole-stage-codegen —
no Python in this hot path) and as equivalent DuckDB SQL for the correctness
oracle. Keep regexes in the common Java-regex ∩ RE2 subset.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# unicode punctuation folded to ascii before masking (reference analog:
# operator canonicalization, normalizer/helpers.rs:49-91); translate() is
# strictly 1:1 per char: smart quotes -> ascii quotes, en/em dash -> '-',
# NBSP -> space. Explicit escapes to keep the mapping visible.
_TRANSLATE_FROM = "‘’“”–— "
_TRANSLATE_TO = "''\"\"-- "

# (pattern, replacement) applied in order after lower+translate. Every step
# always runs: the masks shape the fingerprints and shingles the streaming
# state persists, so they are not options (config.py docstring).
NORM_STEPS: list[tuple[str, str]] = [
    (r"https?://[^\s]+", " <url> "),
    (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", " <email> "),
    (r"[0-9]+(?:\.[0-9]+)?", " <num> "),
    # one pass strips punctuation AND collapses whitespace: any run of
    # chars outside {letter, digit, <, >} — spaces included — becomes a
    # single space. Exactly equivalent to the former two-pass
    # strip-then-collapse sequence, one fewer full-string regex scan.
    (r"[^\p{L}\p{N}<>]+", " "),
]


# literal substring every match of the pattern must contain — a cheap
# contains() pre-check skips the full regex pass (and its output string
# rebuild) on rows that cannot match. Byte-identical: regexp_replace with
# zero matches returns its input unchanged. Spark-side only; the oracle SQL
# rendering below is untouched.
_MASK_GUARDS: dict[str, str] = {
    r"https?://[^\s]+": "http",
    r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}": "@",
}


def normalize_text_col(col: Column | str) -> Column:
    """norm_text as a pure built-in expression chain (lower → translate →
    regexp masks → collapse → trim). Stays inside WholeStageCodegen; the
    guarded masks rely on codegen subexpression elimination evaluating the
    shared input chain once (the contains() condition is unconditional)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.translate(c, _TRANSLATE_FROM, _TRANSLATE_TO)
    for pattern, repl in NORM_STEPS:
        guard = _MASK_GUARDS.get(pattern)
        if guard is not None:
            c = F.when(
                c.contains(guard), F.regexp_replace(c, pattern, repl)
            ).otherwise(c)
        else:
            c = F.regexp_replace(c, pattern, repl)
    return F.trim(c)


def normalize_text_sql(expr: str) -> str:
    """The same normalization as DuckDB SQL, for oracle_sql()/pytest oracles.

    DuckDB regexp_replace is RE2 and needs the 'g' flag for global
    replacement; patterns above are written in the common subset.
    """
    out = f"lower({expr})"
    frm = _TRANSLATE_FROM
    to = _TRANSLATE_TO.replace("'", "''")
    out = f"translate({out}, '{frm}', '{to}')"
    for pattern, repl in NORM_STEPS:
        # RE2 spells unicode classes \p{L}/\p{N} identically — reuse as-is
        pat_sql = pattern.replace("'", "''")
        out = f"regexp_replace({out}, '{pat_sql}', '{repl}', 'g')"
    return f"trim({out})"


def n_tokens_col(norm_col: Column | str) -> Column:
    """Token count over norm_text (reference ``count_nodes`` analog,
    node.rs:362-367 — sentinels excluded ≙ empty string → 0)."""
    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    return (
        F.when(F.length(c) == 0, F.lit(0))
        .otherwise(F.size(F.split(c, " ")))
        .cast("int")
    )


def n_tokens_sql(norm_expr: str) -> str:
    return (
        f"cast(case when length({norm_expr}) = 0 then 0 "
        f"else length({norm_expr}) - length(replace({norm_expr}, ' ', '')) + 1 "
        f"end as int)"
    )


# --- boilerplate tagging (reference P4: test-code tagging, parser.rs:14-26;
# tag, don't drop — the filter is applied later in the pipeline) ---
# NOTE: matched against norm_text, so digits are already masked to <num>
_BOILERPLATE_PATTERNS = [
    "<num> not found",
    "<num> forbidden",
    "domain is parked",
    "this domain may be for sale",
    "under construction",
    "access denied",
]


def is_boilerplate_col(norm_col: Column | str) -> Column:
    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    cond = F.lit(False)
    for pat in _BOILERPLATE_PATTERNS:
        cond = cond | c.contains(pat)
    return cond


def is_boilerplate_sql(norm_expr: str) -> str:
    ors = " or ".join(
        f"contains({norm_expr}, '{p}')" for p in _BOILERPLATE_PATTERNS
    )
    return f"({ors})"
