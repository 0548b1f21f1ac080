"""Seeded benchmark inputs, generated without Spark and written as parquet.

The program under test only ever sees the files written here. Two corpora:

* ``web_pages`` -- the pipeline corpus: long documents (140-260 tokens) over
  a 17,576-word letters-only vocabulary, plus planted duplicates with a
  linear structure: a byte-exact copy of every 10th document and a one-token
  near copy (``" extrazz"`` appended) of every 7th.
* ``query_tables`` -- the ``documents`` and ``embeddings`` tables that the
  benchmark's ``__spark_entry__`` queries read, shaped like the scale-factor
  test tables (30-word vocabulary, 10-100 tokens per document, 64-dim
  embeddings).
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import string
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXACT_MOD = 10
NEAR_MOD = 7
NEAR_SUFFIX = " extrazz"
LANGS = ("en", "de", "fr", "es")
WORDS = np.array(
    ["".join(t) for t in itertools.product(string.ascii_lowercase, repeat=3)]
)
WORDS = np.char.add(WORDS, WORDS[::-1])  # 6-letter words, none a number

QUERY_VOCAB = np.array(
    (
        "spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast row the "
        "agg key query a scan batch"
    ).split()
)
QUERY_LANGS = np.array(["en", "en", "zh", "es", "fr", "de"])


def _join_docs(words: np.ndarray, lengths: np.ndarray) -> list[str]:
    ends = np.cumsum(lengths)
    starts = ends - lengths
    return [" ".join(words[s:e]) for s, e in zip(starts, ends)]


@dataclass(frozen=True)
class WebPages:
    """A materialized pipeline corpus and its planted ground truth."""

    path: str
    n_docs: int  # rows in the table, copies included
    exact_pairs: list[tuple[str, str]]  # (original url, exact copy url)
    near_pairs: list[tuple[str, str]]  # (original url, near copy url)
    texts: list[str]  # original documents, for the kernel table


def write_web_pages(out_dir: str, n_base: int, seed: int, files: int = 8) -> WebPages:
    rng = np.random.default_rng(seed)
    lengths = rng.integers(140, 261, size=n_base)
    words = WORDS[rng.integers(0, len(WORDS), size=int(lengths.sum()))]
    texts = _join_docs(words, lengths)
    hosts = rng.integers(0, 997, size=n_base)

    def url(i: int, kind: str) -> str:
        return f"http://synth{hosts[i]}.example/{kind}{i}"

    ids = np.arange(n_base)
    exact_ids = ids[ids % EXACT_MOD == 0]
    near_ids = ids[ids % NEAR_MOD == 0]
    rows_url = [url(i, "d") for i in ids]
    rows_text = list(texts)
    rows_lang = [LANGS[i % len(LANGS)] for i in ids]
    exact_pairs, near_pairs = [], []
    for i in exact_ids:
        exact_pairs.append((rows_url[i], url(i, "x")))
        rows_url.append(url(i, "x"))
        rows_text.append(texts[i])
        rows_lang.append(LANGS[i % len(LANGS)])
    for i in near_ids:
        near_pairs.append((rows_url[i], url(i, "n")))
        rows_url.append(url(i, "n"))
        rows_text.append(texts[i] + NEAR_SUFFIX)
        rows_lang.append(LANGS[i % len(LANGS)])

    n = len(rows_url)
    epoch = dt.datetime(2024, 1, 1)
    table = pa.table(
        {
            "url": pa.array(rows_url, pa.string()),
            "warc_ts": pa.array(
                [epoch + dt.timedelta(seconds=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "html": pa.nulls(n, pa.binary()),
            "text": pa.array(rows_text, pa.string()),
            "lang": pa.array(rows_lang, pa.string()),
        }
    )
    # shuffle rows so copies do not sit next to their originals
    table = table.take(rng.permutation(n))
    path = os.path.join(out_dir, "web_pages")
    os.makedirs(path, exist_ok=True)
    per = -(-n // files)
    for f in range(files):
        pq.write_table(
            table.slice(f * per, per), os.path.join(path, f"part-{f:03d}.parquet")
        )
    return WebPages(path, n, exact_pairs, near_pairs, texts)


@dataclass(frozen=True)
class QueryTables:
    """A materialized scale-factor directory for the ``__spark_entry__`` queries."""

    sf_dir: str
    n_docs: int
    texts: list[str]


def write_query_tables(out_dir: str, n_docs: int, n_vecs: int, seed: int) -> QueryTables:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    lengths = rng.integers(10, 101, size=n_docs)
    words = QUERY_VOCAB[rng.integers(0, len(QUERY_VOCAB), size=int(lengths.sum()))]
    texts = _join_docs(words, lengths)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(
                    QUERY_LANGS[rng.integers(0, len(QUERY_LANGS), size=n_docs)],
                    pa.string(),
                ),
                "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    vecs = rng.normal(0.0, 0.12, size=(n_vecs, 64)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, size=n_vecs), pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return QueryTables(out_dir, n_docs, texts)
