"""Document-table dedup queries — the driver-checkable operator surface.

The driver's `documents` tables contain no planted duplicates (TESTDATA.md),
so each query here constructs a deterministic augmented input INSIDE the
query (e.g. union the table with an exact copy of every 10th doc, or with a
suffix-extended near-copy) — the same construction is mirrored in the DuckDB
oracle SQL (`__spark_entry__.py`), making exact-tier grouping, LSH recall,
connected components, and substring containment all checkable against ANSI
SQL + recursive CTEs at sf0.01.

Float-valued outputs are emitted as `*_e6 BIGINT` (value * 1e6, rounded) so
the driver's value-hash comparison is immune to double formatting drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.normalize import normalize_text_col, n_tokens_col
from ..operators.connected_components import connected_components
from ..operators.lsh import DETECTORS, pairs_from_buckets, signatures
from ..operators.verify import reassemble_pairs

CFG = PipelineConfig()  # shared shingle/signature config for the oracle


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# deterministic planted-duplicate unions (mirrored in oracle SQL)
# ---------------------------------------------------------------------------
EXACT_COPY_MOD = 10  # every 10th doc gets an exact copy
EXACT_COPY_OFFSET = 1_000_000
NEAR_COPY_MOD = 7  # every 7th doc gets a near copy (suffix-extended)
NEAR_COPY_OFFSET = 2_000_000
NEAR_SUFFIX = " extra trailing tokens appended here"
SPAN_COPY_MOD = 11  # every 11th doc gets a substring copy (chars 50..350)
SPAN_COPY_OFFSET = 3_000_000
# slice caps keep the O(n²) brute-force SQL oracles tractable at sf0.01;
# the Spark side applies the same caps so inputs are identical
NEAR_SLICE = 2000
SPAN_SLICE = 1500


def with_exact_copies(docs: DataFrame) -> DataFrame:
    copies = docs.filter(F.col("doc_id") % EXACT_COPY_MOD == 0).select(
        (F.col("doc_id") + EXACT_COPY_OFFSET).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    return docs.unionByName(copies)


def with_near_copies(docs: DataFrame) -> DataFrame:
    docs = docs.filter(F.col("doc_id") < NEAR_SLICE)
    copies = docs.filter(F.col("doc_id") % NEAR_COPY_MOD == 0).select(
        (F.col("doc_id") + NEAR_COPY_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(NEAR_SUFFIX)).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return docs.unionByName(copies)


def with_span_copies(docs: DataFrame) -> DataFrame:
    docs = docs.filter(F.col("doc_id") < SPAN_SLICE)
    copies = (
        docs.filter(
            (F.col("doc_id") % SPAN_COPY_MOD == 0) & (F.length("text") >= 400)
        )
        .select(
            (F.col("doc_id") + SPAN_COPY_OFFSET).alias("doc_id"),
            F.substring("text", 50, 300).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    return docs.unionByName(copies)


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition to the session's core count (guide §2.5: input skew from
    an unsplittable file -> repartition right after the read). The driver
    tables are ONE parquet file with ONE row group, so a scan — and every
    projection chained onto it (the 5-pass regex normalize, shingles,
    sketch UDFs) — runs as a single task regardless of split size.
    Shuffling the raw rows first costs one lightweight exchange and buys
    full-core parallelism for everything downstream. Sized from
    defaultParallelism (cluster-adaptive), never a constant.

    HASH-partitioned on the unique id column (``doc_id``, else ``url``)
    when one exists: a keyless ``repartition(n)`` is round-robin, which
    first locally sorts its input so retried map tasks reproduce the same
    row-to-partition assignment (SPARK-23207, guide §2.5) — a full sort of
    the single upstream task's rows, serial by construction here. Hashing
    a deterministic unique key needs no such sort (retries re-hash
    identically) and spreads evenly (distinct keys >> partitions).
    Measured: the fingerprint projection over a 320k-doc single-task
    expansion dropped 1.80 -> 1.12 s."""
    n = df.sparkSession.sparkContext.defaultParallelism
    key = next((c for c in ("doc_id", "url") if c in df.columns), None)
    if key is not None:
        return df.repartition(n, F.col(key))
    return df.repartition(n)


def single_sorted(df: DataFrame, *cols: str) -> DataFrame:
    """Globally sorted output as ONE sorted partition — identical rows in
    identical order to .orderBy(*cols). A global orderBy inserts a
    range-partitioning exchange whose bounds come from a separate sampling
    pass over the child plan (an extra AQE job, and for map-only children a
    full second evaluation of the projection — guide §2.4: an orderBy used
    only to make output deterministic). All driver-oracle query outputs are
    a few MB, so the single sort task is trivial."""
    return df.repartition(1).sortWithinPartitions(*cols)


def normalized(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        "lang",
        normalize_text_col("text").alias("norm_text"),
    ).withColumn("n_tokens", n_tokens_col("norm_text"))


# ---------------------------------------------------------------------------
# the queries
# ---------------------------------------------------------------------------
def _norm_group_keys() -> list:
    """Group keys equivalent to grouping by norm_text itself, at 20 bytes
    instead of the full document: two independently-seeded xxhash64 halves
    (the same 128-bit construction as functions/fingerprint.py, collision
    ~2^-128 per pair — the width the exact_dup_groups_wide oracle already
    pins as partition-identical to norm_text) plus length(norm_text), which
    also keeps NULL (length NULL) distinct from '' (length 0) exactly as
    SQL GROUP BY does. Guide §2.3: shuffle keys, not payloads — the
    groupBy(norm_text) exchange carried ~1.3 KB of text per row."""
    from ..functions.fingerprint import _WIDE_SEED

    return [
        F.xxhash64(F.lit(_WIDE_SEED), "norm_text").alias("_h1"),
        F.xxhash64("norm_text").alias("_h2"),
        F.length("norm_text").alias("_hl"),
    ]


def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[G1] exact tier over the exact-copy union: one row per duplicate
    group keyed by its smallest doc_id."""
    docs = normalized(fan_out(with_exact_copies(load_documents(spark, sf_dir))))
    return (
        docs.groupBy(*_norm_group_keys())
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .filter(F.col("n_members") > 1)
        .select("rep_id", "n_members")
        .transform(lambda d: single_sorted(d, "rep_id"))
    )


def _candidates(
    docs: DataFrame, detector: str
) -> tuple[DataFrame, DataFrame]:
    """(signatures, candidate pairs) of one detector over normalized docs.

    The signature chain (normalize→sketch/winnow UDF) is localCheckpointed:
    banding and the verify join read it, and without the checkpoint the UDF
    chain re-runs once per consumer (the production Pipeline checkpoints
    every stage to the catalog instead)."""
    d = DETECTORS[detector]
    sigs = signatures(
        docs.select(
            F.col("doc_id").cast("string").alias("url"), "lang", "norm_text"
        ),
        CFG,
        (detector,),
    ).localCheckpoint(eager=False)
    pairs, _ = pairs_from_buckets(
        sigs, d.keys, CFG, d.label, collect_flagged=False
    )
    return sigs, pairs


def _near_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH candidates over the near-copy union, verified."""
    docs = normalized(with_near_copies(load_documents(spark, sf_dir)))
    sigs, pairs = _candidates(docs, "minhash")
    return DETECTORS["minhash"].verify(pairs, sigs, CFG)


def minhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F5/F7/J3/J4] the full MinHash→LSH→verify path over the near-copy
    union. The ORACLE is brute-force SQL Jaccard over token-shingle sets —
    LSH recall at J≈0.9 with 32×4 bands is 1-3e-9, so the outputs match
    exactly; this is the recall contract made into a checkable query."""
    edges = _near_edges(spark, sf_dir)
    return single_sorted(
        edges.select(
            F.least(F.col("url_a").cast("long"), F.col("url_b").cast("long")).alias("id_a"),
            F.greatest(F.col("url_a").cast("long"), F.col("url_b").cast("long")).alias("id_b"),
            (F.round(F.col("similarity") * 1e6)).cast("long").alias("jaccard_e6"),
        ),
        "id_a", "id_b",
    )


def _near_clusters(spark: SparkSession, sf_dir: str, id_bits: int) -> DataFrame:
    # CC reads the edge set twice (node extraction + the id edges) — pin it
    edges = _near_edges(spark, sf_dir).localCheckpoint(eager=False)
    clusters = connected_components(edges, id_bits=id_bits).select(
        F.col("url").cast("long").alias("doc_id"), "cluster_id"
    )
    # relabel components by min doc_id (the CC label is a deterministic
    # center url, which for numeric ids is NOT the numeric min)
    mins = clusters.groupBy("cluster_id").agg(
        F.min("doc_id").alias("cluster_min")
    )
    return (
        clusters.join(mins, "cluster_id")
        .select("doc_id", "cluster_min")
        .orderBy("doc_id")
    )


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J6] connected components over the verified near-dup edges; cluster
    id = min doc_id of the component (oracle: recursive-CTE reachability)."""
    return _near_clusters(spark, sf_dir, id_bits=64)


def near_dup_clusters_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J6 at the 10^12-doc key width] (VERDICT r4 #4): the SAME near tier
    (candidate generation + exact-Jaccard verify are key-width-independent —
    they shuffle 8-byte url-hash surrogates and neutralize collisions at the
    url join-back, operators/lsh.py) feeding connected_components at
    id_bits=128: node ids become the 32-char hex double-xxhash64
    (functions/fingerprint.py), and every min/groupBy/join of either CC
    regime runs on string ids. The cluster relabeling by min doc_id makes
    the output identical to near_dup_clusters, so the SAME recursive-CTE
    oracle checks it — a green row proves the 128-bit id path end-to-end,
    not just the exact tier (exact_dup_groups_wide)."""
    return _near_clusters(spark, sf_dir, id_bits=128)


def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F6/J3 simhash tier] SimHash detector end-to-end over the near-copy
    union: chunk-bucket candidates (pigeonhole) -> Hamming <= d verify.

    SQL-ORACLE-CHECKED: shingles are hashed with the oracle-reproducible
    60-bit md5 hash (functions/shingles.py) instead of xxhash64, so DuckDB
    computes the identical signatures; the simhash itself still runs through
    the production numpy kernel (functions/simhash.py — the same bit-vote
    code the Pipeline uses). The oracle is brute-force Hamming over all
    same-lang pairs; Spark's pigeonhole chunk bucketing is exact for
    candidate generation (hamming <= d implies >= 1 of d+1 chunks equal), so
    outputs match exactly. Hamming-threshold verify is the analog of the
    reference's Dice-threshold check (dupes-core/src/grouper.rs:137-151)."""
    from ..functions.shingles import oracle_shingle_hashes, tokens_col
    from ..functions.simhash import hamming_col, simhash_udf

    docs = normalized(with_near_copies(load_documents(spark, sf_dir)))
    toks = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        "lang",
        tokens_col("norm_text").alias("__toks"),
    )
    sh = toks.select(
        "url", "lang", oracle_shingle_hashes("__toks", CFG.shingle_k).alias("shingles")
    )
    sigs = (
        sh.withColumn("simhash", simhash_udf()(F.col("shingles")))
        .select("url", "lang", "simhash")
        .localCheckpoint(eager=False)
    )
    d = DETECTORS["simhash"]
    pairs, _ = pairs_from_buckets(
        sigs, d.build_keys(CFG), CFG, d.label, collect_flagged=False
    )
    joined = reassemble_pairs(pairs, sigs, "url", ["simhash"])
    return (
        joined.select(
            F.least(F.col("url_a").cast("long"), F.col("url_b").cast("long")).alias("id_a"),
            F.greatest(F.col("url_a").cast("long"), F.col("url_b").cast("long")).alias("id_b"),
            hamming_col("simhash_a", "simhash_b").cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= CFG.hamming_threshold)
        .transform(lambda d: single_sorted(d, "id_a", "id_b"))
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4 standalone] brute-force token-set Jaccard over a small slice —
    the n-gram Jaccard dedup detector in its exact form (no LSH)."""
    docs = normalized(load_documents(spark, sf_dir)).filter(
        F.col("doc_id") < 60
    )
    toks = docs.select(
        "doc_id",
        "lang",
        F.array_distinct(F.split("norm_text", " ")).alias("toks"),
    )
    a = toks.alias("a")
    b = toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    return (
        a.join(b, (F.col("a.doc_id") < F.col("b.doc_id")) & (F.col("a.lang") == F.col("b.lang")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (F.round(inter.cast("double") / union.cast("double") * 1e6)).cast("long").alias("jaccard_e6"),
        )
        .filter(F.col("jaccard_e6") >= 500_000)
        .orderBy("id_a", "id_b")
    )


def substring_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X1-X3] substring tier over the span-copy union, WITH span offsets.
    Oracle is the SQL containment predicate + strpos — valid because every
    planted pair is a full containment and unrelated docs share no >=L-char
    run (random text): the GSA verify's lcs equals the contained text and
    its first-occurrence offset equals strpos()-1."""
    # fan_out: the winnow UDF over the slice would otherwise run as one task
    # (single-row-group input file)
    docs = normalized(fan_out(with_span_copies(load_documents(spark, sf_dir))))
    sigs, pairs = _candidates(docs, "substring")
    edges = DETECTORS["substring"].verify(pairs, sigs, CFG)
    la = F.col("url_a").cast("long")
    lb = F.col("url_b").cast("long")
    # url_a/url_b order is lexicographic on the string form; re-orient by
    # numeric id and swap the spans alongside
    return (
        edges.filter(F.col("similarity") >= 0.999999)
        .select(
            F.least(la, lb).alias("id_a"),
            F.greatest(la, lb).alias("id_b"),
            F.when(la <= lb, F.col("span_a_start"))
            .otherwise(F.col("span_b_start"))
            .alias("span_a_start"),
            F.when(la <= lb, F.col("span_b_start"))
            .otherwise(F.col("span_a_start"))
            .alias("span_b_start"),
            (F.col("span_a_end") - F.col("span_a_start")).alias("lcs_len"),
        )
        .transform(lambda d: single_sorted(d, "id_a", "id_b"))
    )
