"""Deterministic synthetic ``web_pages`` corpus + adapters.

Fixture families mirror the reference's test fixtures
(``cargo-dupes/tests/fixtures/``: exact_dupes / near_dupes / no_dupes /
mixed / sub_function_dupes / test_code — see FIXTURES.md) translated to
webtext. Fully seeded; html wraps the ground-truth text so the extraction
invariant (byte-identical text per url) is checkable.

Ground truth: the generator returns the *planted* family structure; tests
derive the authoritative oracle pairs by brute-force Jaccard over the same
normalize/shingle code (the analog of the reference's hand-computed Dice
expectations, ``dupes-core/src/similarity.rs:89-159``).
"""

from __future__ import annotations

import datetime as dt
import html as _html
import random
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import WEB_PAGES

_VOCAB = {
    "en": """the quick brown fox jumps over lazy dog market report price rose
        fell index shares stock trade global economy growth data news today
        analyst said company quarter revenue profit billion million percent
        city people government health study research science team game season
        win loss coach player record water energy climate policy vote""".split(),
    "de": """der die das schnelle braune fuchs springt über faulen hund markt
        bericht preis stieg fiel index aktien handel global wirtschaft wachstum
        daten nachrichten heute analyst sagte firma quartal umsatz gewinn
        milliarde million prozent stadt leute regierung studie forschung
        mannschaft spiel saison sieg trainer spieler wasser energie klima""".split(),
    "fr": """le la les rapide brun renard saute par dessus chien marché rapport
        prix hausse baisse indice actions commerce mondial économie croissance
        données nouvelles aujourd analyste société trimestre chiffre bénéfice
        milliard million pourcent ville gens gouvernement étude recherche
        équipe match saison victoire entraineur joueur eau énergie climat""".split(),
}

BOILERPLATE_TEXT = (
    "404 Not Found\n"
    "The page you requested could not be found on this server.\n"
    "Please check the URL or return to the homepage."
)


@dataclass
class PlantedCorpus:
    """Rows + the planted family structure (ground-truth intent)."""

    rows: list[tuple] = field(default_factory=list)
    # family_id -> list of urls; near families also record planted edit rates
    exact_families: dict[str, list[str]] = field(default_factory=dict)
    near_families: dict[str, list[str]] = field(default_factory=dict)
    near_negative: dict[str, list[str]] = field(default_factory=dict)
    substring_pairs: list[tuple[str, str]] = field(default_factory=list)
    boilerplate_urls: list[str] = field(default_factory=list)
    unique_urls: list[str] = field(default_factory=list)


def _ts(i: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def _wrap_html(text: str) -> bytes:
    """Inverse of functions.extract.extract_text for well-formed fixtures:
    line 0 becomes <title>, remaining lines become <p> blocks."""
    lines = text.split("\n")
    title = _html.escape(lines[0]) if lines else ""
    paras = "".join(f"<p>{_html.escape(ln)}</p>" for ln in lines[1:])
    doc = (
        f"<html><head><title>{title}</title>"
        f"<script>var x = 1;</script></head>"
        f"<body>{paras}<!-- comment --></body></html>"
    )
    return doc.encode("utf-8")


def _doc_text(rng: random.Random, lang: str, n_tokens: int) -> str:
    vocab = _VOCAB[lang]
    tokens = [rng.choice(vocab) for _ in range(n_tokens)]
    # 2-4 lines so html wrapping exercises title + paragraphs
    n_lines = rng.randint(2, 4)
    per = max(1, n_tokens // n_lines)
    lines = [" ".join(tokens[i : i + per]) for i in range(0, n_tokens, per)]
    return "\n".join(lines)


def _edit_tokens(rng: random.Random, text: str, rate: float, lang: str) -> str:
    """Replace ~rate of tokens (the near-dup perturbation; analog of the
    reference's near_dupes fixture changing one comparison per function)."""
    vocab = _VOCAB[lang]
    lines = []
    for line in text.split("\n"):
        toks = line.split(" ")
        for i in range(len(toks)):
            if rng.random() < rate:
                toks[i] = rng.choice(vocab)
        lines.append(" ".join(toks))
    return "\n".join(lines)


def generate_web_pages(
    spark: SparkSession,
    seed: int = 7,
    n_unique: int = 60,
    n_exact_families: int = 6,
    exact_members: int = 3,
    n_variant_families: int = 3,
    n_near_families: int = 10,
    near_rates: tuple[float, ...] = (0.02, 0.04, 0.08),
    negative_rate: float = 0.35,
    n_substring: int = 4,
    n_boilerplate: int = 6,
    skew_rows: int = 0,
    langs: tuple[str, ...] = ("en", "de"),
    doc_tokens: int = 120,
) -> tuple[DataFrame, PlantedCorpus]:
    rng = random.Random(seed)
    corpus = PlantedCorpus()
    idx = 0

    def add_row(url: str, text: str, lang: str, with_html: bool = True):
        nonlocal idx
        html = _wrap_html(text) if with_html else None
        corpus.rows.append((url, _ts(idx), html, text, lang))
        idx += 1

    def pick_lang() -> str:
        return langs[rng.randrange(len(langs))]

    # unique docs (fixtures/no_dupes analog)
    for i in range(n_unique):
        lang = pick_lang()
        url = f"http://host{rng.randrange(20)}.example/{lang}/u{i}"
        corpus.unique_urls.append(url)
        add_row(url, _doc_text(rng, lang, doc_tokens), lang)

    # exact families (fixtures/exact_dupes: identical modulo names)
    for f_i in range(n_exact_families):
        lang = pick_lang()
        text = _doc_text(rng, lang, doc_tokens)
        urls = []
        for m in range(exact_members):
            url = f"http://host{rng.randrange(20)}.example/{lang}/e{f_i}m{m}"
            urls.append(url)
            add_row(url, text, lang)
        corpus.exact_families[f"exact{f_i}"] = urls

    # normalization-variant families: identical only after normalization
    # (case / whitespace / digits / smart quotes — the Literal-erasure analog)
    for f_i in range(n_variant_families):
        lang = pick_lang()
        base = _doc_text(rng, lang, doc_tokens)
        variants = [
            base,
            base.upper(),
            base.replace(" ", "  ").replace("market", "market 42")
            if "market" in base
            else base + " 1234",
        ]
        urls = []
        for m, v in enumerate(variants):
            url = f"http://host{rng.randrange(20)}.example/{lang}/v{f_i}m{m}"
            urls.append(url)
            add_row(url, v, lang)
        corpus.exact_families[f"variant{f_i}"] = urls[:2]  # member 2 differs
        # the digit-augmented variant is exact iff mask_numbers erased it —
        # keep it out of the planted exact set; brute-force oracle decides.

    # near families (fixtures/near_dupes analog)
    for f_i in range(n_near_families):
        lang = pick_lang()
        base = _doc_text(rng, lang, doc_tokens)
        url0 = f"http://host{rng.randrange(20)}.example/{lang}/n{f_i}m0"
        add_row(url0, base, lang)
        urls = [url0]
        for m, rate in enumerate(near_rates, start=1):
            url = f"http://host{rng.randrange(20)}.example/{lang}/n{f_i}m{m}"
            urls.append(url)
            add_row(url, _edit_tokens(rng, base, rate, lang), lang)
        corpus.near_families[f"near{f_i}"] = urls
        # negative control: heavily edited, must NOT cluster
        neg_url = f"http://host{rng.randrange(20)}.example/{lang}/n{f_i}neg"
        add_row(neg_url, _edit_tokens(rng, base, negative_rate, lang), lang)
        corpus.near_negative[f"near{f_i}"] = [neg_url]

    # substring pairs (sub_function_dupes analog: doc B ⊂ doc A)
    for f_i in range(n_substring):
        lang = pick_lang()
        long_text = _doc_text(rng, lang, doc_tokens * 4).replace("\n", " ")
        span_tokens = long_text.split(" ")[40:120]  # ~80 tokens ≈ 450 chars
        span = " ".join(span_tokens)
        pad_front = _doc_text(rng, lang, 30).replace("\n", " ")
        pad_back = _doc_text(rng, lang, 30).replace("\n", " ")
        url_a = f"http://host{rng.randrange(20)}.example/{lang}/s{f_i}a"
        url_b = f"http://host{rng.randrange(20)}.example/{lang}/s{f_i}b"
        add_row(url_a, long_text, lang)
        add_row(url_b, f"{pad_front} {span} {pad_back}", lang)
        corpus.substring_pairs.append((url_a, url_b))

    # boilerplate (test_code fixture analog: tagged, filter is a toggle)
    for i in range(n_boilerplate):
        lang = "en"
        url = f"http://park{i}.example/"
        corpus.boilerplate_urls.append(url)
        add_row(url, BOILERPLATE_TEXT, lang)

    # hot-host skew: one host owns many rows sharing a template prefix
    # (north_rule hot-host URL skew; below-threshold tails must not cluster)
    if skew_rows:
        lang = "en"
        template = _doc_text(rng, lang, 60).replace("\n", " ")
        for i in range(skew_rows):
            tail = _doc_text(rng, lang, 70).replace("\n", " ")
            url = f"http://hothost.example/{lang}/skew{i}"
            add_row(url, f"{template} {tail}", lang)

    df = spark.createDataFrame(corpus.rows, WEB_PAGES)
    return df, corpus


def documents_as_web_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapter: driver-provided documents.parquet -> web_pages shape
    (FIXTURES.md §2: url := doc://source/doc_id, html NULL, fixed-epoch ts)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("doc://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
