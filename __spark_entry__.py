"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 (plus
the training-data-pipeline extensions); ``oracle_sql()`` holds the DuckDB
equivalent run by the driver at sf=0.01. Planted-duplicate unions are
constructed identically on both sides (the driver tables carry no
duplicates, TESTDATA.md). Float outputs are emitted as ``*_e6`` BIGINT so
value-hash comparison is exact.
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cargo_dupes_spark.functions.normalize import (
    is_boilerplate_col,
    is_boilerplate_sql,
    n_tokens_col,
    n_tokens_sql,
    normalize_text_col,
    normalize_text_sql,
)
from cargo_dupes_spark.functions.textstats import (
    lang_id_col,
    lang_id_sql,
    quality_score_col,
    quality_score_sql,
    token_count_col,
    token_count_sql,
    whitespace_token_count_col,
    whitespace_token_count_sql,
)
from cargo_dupes_spark.operators import dedup
from cargo_dupes_spark.operators.dedup import (
    CFG,
    EXACT_COPY_MOD,
    EXACT_COPY_OFFSET,
    NEAR_COPY_MOD,
    NEAR_COPY_OFFSET,
    NEAR_SUFFIX,
    SPAN_COPY_MOD,
    SPAN_COPY_OFFSET,
    _norm_group_keys,
    fan_out,
    load_documents,
    load_embeddings,
    normalized,
    single_sorted,
    with_exact_copies,
)
from cargo_dupes_spark.functions.segments import segment_paragraphs_sql
from cargo_dupes_spark.functions.shingles import oracle_shingle_hash_sql
from cargo_dupes_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
)

_NORM = normalize_text_sql("text", CFG)
_K = CFG.shingle_k


def _embedding_dim(emb: DataFrame) -> int:
    """Vector width from one row — fails with a clear message on an empty
    table instead of a TypeError on None[0]."""
    first = emb.select("embedding").first()
    if first is None or first[0] is None:
        raise ValueError("embeddings table is empty (or embedding is NULL)")
    return len(first[0])


def _embedding_dim_at(sf: str, emb: DataFrame) -> int:
    """Vector width read driver-side from the parquet file (pyarrow, one
    row) — ``emb.first()`` costs a full Spark job (scan task + py4j round
    trip) per query invocation for one scalar. Reads the INPUT per call
    (nothing cached); falls back to the DataFrame path when the table is
    not a single readable parquet file with an ``embedding`` column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(f"{sf}/embeddings.parquet")
        batch = next(pf.iter_batches(batch_size=1, columns=["embedding"]))
        # by name: a file without the column yields a zero-column batch
        col = batch.column("embedding")
    except (OSError, StopIteration, pa.ArrowInvalid, KeyError):
        return _embedding_dim(emb)
    v = col[0].as_py() if batch.num_rows else None
    if v is None:
        raise ValueError("embeddings table is empty (or embedding is NULL)")
    return len(v)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the MinHash→LSH→verify near-dup path over sf0.001 documents
    with planted near-copies (the core graft semantics end-to-end)."""
    return dedup.minhash_near_pairs(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------
def _q_normalize(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_documents(spark, sf)
    return docs.select(
        "doc_id",
        normalize_text_col("text", CFG).alias("norm_text"),
    ).withColumn("n_tokens", n_tokens_col("norm_text")).orderBy("doc_id")


def _q_min_tokens(spark: SparkSession, sf: str) -> DataFrame:
    # P3 size gate
    n = normalized(load_documents(spark, sf))
    return n.filter(F.col("n_tokens") >= 30).select("doc_id", "n_tokens").orderBy("doc_id")


def _q_lang_partition(spark: SparkSession, sf: str) -> DataFrame:
    # P6 per-language partitioning counts
    n = normalized(load_documents(spark, sf))
    return (
        n.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").cast("long").alias("sum_tokens"))
        .orderBy("lang")
    )


def _q_dedup_stats(spark: SparkSession, sf: str) -> DataFrame:
    # G2/G4 duplication stats over the exact-copy union. Grouping keys are
    # the 128-bit-hash+length surrogate for norm_text (dedup._norm_group_keys
    # — partition-identical to GROUP BY norm_text, guide §2.3: the exchange
    # carries 20 B/row instead of the full document text)
    docs = normalized(fan_out(with_exact_copies(load_documents(spark, sf))))
    sized = docs.groupBy(*_norm_group_keys()).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("tok")
    )
    return sized.agg(
        F.sum("n").cast("long").alias("total_docs"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).cast("long").alias("dup_docs"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long").alias("dup_groups"),
        F.round(
            F.sum(F.when(F.col("n") > 1, F.col("tok")).otherwise(0))
            * 1e6
            / F.sum("tok")
        ).cast("long").alias("dup_token_pct_e6_of_1e6"),
    )


def _q_ignore_anti(spark: SparkSession, sf: str) -> DataFrame:
    # I1 ignore anti-join: drop groups whose rep_id is on the ignore list
    groups = dedup.exact_dup_groups(spark, sf)
    ignore = groups.select("rep_id").filter(F.col("rep_id") % 3 == 0)
    return groups.join(ignore, "rep_id", "left_anti").orderBy("rep_id")


def _q_ordering(spark: SparkSession, sf: str) -> DataFrame:
    # J8/G1 deterministic ordering + limit
    return (
        dedup.exact_dup_groups(spark, sf)
        .orderBy(F.desc("n_members"), F.asc("rep_id"))
        .limit(20)
    )


def _q_shingles(spark: SparkSession, sf: str) -> DataFrame:
    # F7 distinct k-token shingle counts
    n = normalized(load_documents(spark, sf))
    from cargo_dupes_spark.functions.shingles import with_shingles

    return (
        with_shingles(n, "norm_text", _K, CFG.shingle_seed)
        .select("doc_id", F.size("shingles").alias("n_shingles"))
        .orderBy("doc_id")
    )


def _q_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    # P4 boilerplate tagging over documents + planted boilerplate rows
    docs = load_documents(spark, sf)
    planted = spark.createDataFrame(
        [
            (9000001, "404 Not Found - this page is missing", "en", "synthetic", 37),
            (9000002, "This domain is parked free courtesy of registrar", "en", "synthetic", 49),
        ],
        docs.schema,
    )
    both = fan_out(docs.unionByName(planted))
    # bound-attribute norm_text: is_boilerplate_col reads its input once per
    # contains pattern — a separate projection keeps the regex chain single
    return (
        both.select(
            "doc_id", normalize_text_col("text", CFG).alias("_norm")
        )
        .select(
            "doc_id", is_boilerplate_col("_norm").alias("is_boilerplate")
        )
        .orderBy("doc_id")
    )


def _q_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_documents(spark, sf))
    return single_sorted(
        docs.select(
            "doc_id",
            (F.round(quality_score_col("text") * 1e6)).cast("long").alias("quality_e6"),
        ),
        "doc_id",
    )


def _q_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_documents(spark, sf))
    return single_sorted(
        docs.select(
            "doc_id",
            whitespace_token_count_col("text").cast("long").alias("ws_tokens"),
            token_count_col("text").cast("long").alias("subword_tokens"),
        ),
        "doc_id",
    )


def _q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_documents(spark, sf))
    # norm_text as a BOUND attribute in its own projection: lang_id_col
    # references its input many times and Catalyst would otherwise inline
    # the 5-pass regex chain into every reference (guide §2.3 project
    # discipline; codegen CSE does not catch the conditional branches)
    return single_sorted(
        docs.select(
            "doc_id", normalize_text_col("text", CFG).alias("_norm")
        ).select("doc_id", lang_id_col("_norm").alias("lang_guess")),
        "doc_id",
    )


def _q_doc_segments(spark: SparkSession, sf: str) -> DataFrame:
    # N3 paragraph segmentation with exact char spans; the corpus has no
    # natural separators, so breaks are planted deterministically (every
    # ' table ' occurrence becomes a paragraph boundary on BOTH sides)
    from cargo_dupes_spark.functions.segments import segment_paragraphs

    docs = load_documents(spark, sf).select(
        "doc_id", F.regexp_replace("text", " table ", "\n\n").alias("text")
    )
    return segment_paragraphs(docs).orderBy("doc_id", "seg_idx")


def _q_topk_cosine(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_embeddings(spark, sf).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries_df = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") < 1000)
    scored = brute_force_topk(corpus, queries_df, k=5)
    return single_sorted(
        scored.select(
            "query_id",
            "neighbor_id",
            (F.round(F.col("cosine") * 1e6)).cast("long").alias("cosine_e6"),
            "rank",
        ),
        "query_id", "rank",
    )


def _q_embedding_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    emb = (
        load_embeddings(spark, sf)
        .filter(F.col("vec_id") < 1000)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    scaled = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        "label",
    )
    both = emb.unionByName(scaled)
    dim = _embedding_dim_at(sf, emb)
    pairs = embedding_near_dup_pairs(both, threshold=0.99, dim=dim)
    return single_sorted(
        pairs.select(
            "id_a",
            "id_b",
            (F.round(F.col("cosine") * 1e6)).cast("long").alias("cosine_e6"),
        ),
        "id_a", "id_b",
    )


def _q_events_topk(spark: SparkSession, sf: str) -> DataFrame:
    # window-function coverage: top-3 events by value per user
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return single_sorted(
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "user_id",
            "event_id",
            (F.round(F.col("value") * 1e6)).cast("long").alias("value_e6"),
            "rnk",
        ),
        "user_id",
        "rnk",
    )


def _q_media_dupes(spark: SparkSession, sf: str) -> DataFrame:
    # multimodal exact dedup: synthetic media (REAL P6 PPM + WAV codecs;
    # video rows exercise the declared stub boundary) -> phash features ->
    # exact dup groups. The planted structure is pure index arithmetic
    # (multimodal.synthetic_media: row i with i%6==5 duplicates row i-3,
    # always a video row since i%3==2), so group membership is
    # SQL-oracle-checkable without decoding anything: group_id is the
    # group's min media_id (the reference's exact-group contract,
    # dupes-core/src/grouper.rs:61-90).
    from pyspark.sql.window import Window

    from cargo_dupes_spark.operators.multimodal import (
        exact_media_dupes,
        extract_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=96)
    feats = extract_features(media, strict=False)
    w = Window.partitionBy("media_type", "group_fp")
    return (
        exact_media_dupes(feats)
        .select(
            "media_id",
            "media_type",
            F.min("media_id").over(w).alias("group_id"),
        )
        .orderBy("media_id")
    )


def _q_media_near_dupes(spark: SparkSession, sf: str) -> DataFrame:
    # the media NEAR-dup tier (VERDICT r4 #3): Hamming-ball bucketing over
    # the 64-bit perceptual hash, planted perturbations whose aHash Hamming
    # distances are PROVABLE arithmetic (multimodal.synthetic_media_near:
    # brightness shift -> 0, extreme-block swap -> exactly 2, exact 2x audio
    # amplification -> 0), so the emitted (pair, type, hamming) rows ARE the
    # planting arithmetic — SQL-oracle-checkable without decoding. Organic
    # pairs within the ball are brute-force-excluded at this seed
    # (tests/test_multimodal.py). Reference analog: the near tier over
    # opaque-object fingerprints, dupes-core/src/grouper.rs:95-220.
    from cargo_dupes_spark.operators.multimodal import (
        extract_features,
        near_media_dupes,
        synthetic_media_near,
    )

    media = synthetic_media_near(spark, n=96)
    feats = extract_features(media, strict=False)
    return near_media_dupes(feats, hamming_threshold=3, n_chunks=4).orderBy(
        "id_a", "id_b"
    )


def _q_ann_planted_recall(spark: SparkSession, sf: str) -> DataFrame:
    # ANN recall oracle on PLANTED structure (VERDICT r2 #5): every vec_id
    # < 1000 gets an exact copy at vec_id + 1_000_000 (cosine exactly 1.0).
    # Identical vectors produce identical hyperplane sketches, so each
    # planted pair collides in EVERY hash table; max_bucket_size exceeds
    # the corpus so no bucket is ever salted/dropped -> candidate recall is
    # 1 BY CONSTRUCTION and the planted pairs are a deterministic SQL
    # oracle (same shape as embedding_near_dups' planting arithmetic).
    from cargo_dupes_spark.operators.similarity import embedding_near_dup_pairs

    emb = (
        load_embeddings(spark, sf)
        .filter(F.col("vec_id") < 1000)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    copies = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(copies)
    dim = _embedding_dim_at(sf, emb)
    pairs = embedding_near_dup_pairs(
        both, threshold=0.999999, dim=dim, max_bucket_size=1_000_000
    )
    return (
        pairs.filter(F.col("id_b") == F.col("id_a") + 1_000_000)
        .select(
            "id_a",
            "id_b",
            (F.round(F.col("cosine") * 1e6)).cast("long").alias("cosine_e6"),
        )
        .orderBy("id_a")
    )


def _q_ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    # the ANN scale path, SQL-ORACLE-CHECKED via the exhaustive-candidate
    # configuration (VERDICT r4 #1 — the reference's verify discipline,
    # dupes-core/src/similarity.rs:13-46: candidates may be approximate,
    # scores and ranks must be EXACT). n_planes=0 makes every vector sketch
    # to key 0 in every table — one bucket per table, so the capped/salted
    # candidate machinery provably emits the COMPLETE pair set and the
    # emitted top-k must equal brute force; the oracle recomputes cosine +
    # rank over all pairs in DuckDB and hash-compares every row (cosine
    # arithmetic, rank contiguity, k-bound, symmetry). Bucketing
    # SELECTIVITY at real configs stays pinned by ann_planted_recall (the
    # planted-copy SQL oracle) and tests/test_similarity.py.
    from cargo_dupes_spark.operators.similarity import lsh_topk

    emb = load_embeddings(spark, sf).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    dim = _embedding_dim_at(sf, emb)
    out = lsh_topk(
        emb, k=5, dim=dim, n_planes=0, n_tables=2,
        max_bucket_size=10_000_000,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        (F.round(F.col("cosine") * 1e6)).cast("long").alias("cosine_e6"),
        "rank",
    ).orderBy("query_id", "rank")


def _q_ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    # the second ANN scale path (k-means coarse quantizer), SQL-ORACLE-
    # CHECKED the same way as ann_lsh_topk: n_centroids=1 puts every vector
    # in the single IVF cell, so the REAL path (driver k-means training,
    # assignment UDF, posexplode, capped pair machinery, single-shuffle
    # vector re-rank, window rank) runs end-to-end with a provably complete
    # candidate set — emitted top-k must equal brute force, and the oracle
    # checks every row. Recall at real configs: ann_ivf_planted_recall.
    from cargo_dupes_spark.operators.similarity import ivf_topk

    emb = load_embeddings(spark, sf).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    dim = _embedding_dim_at(sf, emb)
    out = ivf_topk(
        emb, k=5, dim=dim, n_centroids=1, nprobe=1,
        max_bucket_size=10_000_000,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        (F.round(F.col("cosine") * 1e6)).cast("long").alias("cosine_e6"),
        "rank",
    ).orderBy("query_id", "rank")


def _q_ann_ivf_planted_recall(spark: SparkSession, sf: str) -> DataFrame:
    # IVF twin of ann_planted_recall (VERDICT r3 #3): identical vectors get
    # identical k-means assignments (the coarse quantizer is a deterministic
    # argmax over broadcast centroids), so every planted copy shares all
    # nprobe centroid buckets with its original, no bucket is capped
    # (max_bucket_size exceeds the corpus), and cosine exactly 1.0 beats
    # every non-identical candidate -> the copy is each query's rank-1
    # neighbor BY CONSTRUCTION. Output = pure planting arithmetic, SQL
    # oracle below.
    from cargo_dupes_spark.operators.similarity import ivf_topk

    emb = (
        load_embeddings(spark, sf)
        .filter(F.col("vec_id") < 1000)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    copies = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(copies)
    dim = _embedding_dim_at(sf, emb)
    out = ivf_topk(
        both, k=3, dim=dim, n_centroids=16, nprobe=2,
        max_bucket_size=1_000_000,
    )
    return (
        out.filter(
            (F.col("query_id") < 1_000_000)
            & (F.col("neighbor_id") == F.col("query_id") + 1_000_000)
        )
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            (F.round(F.col("cosine") * 1e6)).cast("long").alias("cosine_e6"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("id_a")
    )


def _q_exact_dup_groups_wide(spark: SparkSession, sf: str) -> DataFrame:
    # the 128-bit fingerprint path end-to-end through the REAL exact-tier
    # operator (VERDICT r3 #5): group keys are 32-char hex double-xxhash64
    # strings (functions/fingerprint.py), not norm_text — the oracle groups
    # by norm_text, so a green row proves 128-bit grouping partitions the
    # corpus identically (collision-free at 2^-128 per pair)
    from cargo_dupes_spark.functions.fingerprint import fingerprint_col
    from cargo_dupes_spark.operators.exact import exact_groups

    docs = normalized(with_exact_copies(load_documents(spark, sf)))
    fps = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        fingerprint_col("norm_text", bits=128).alias("fingerprint"),
        "n_tokens",
    )
    g = exact_groups(fps)
    return (
        g.select(
            F.array_min(
                F.transform("members", lambda m: m.cast("long"))
            ).alias("rep_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("total_tokens"),
        )
        .orderBy("rep_id")
    )


STREAM_COPY_MOD = 5
STREAM_COPY_OFFSET = 5_000_000
STREAM_SLICE = 300
STREAM_SUB_MOD = 5
STREAM_SUB_OFFSET = 6_000_000


@contextlib.contextmanager
def _stream_two_waves(
    spark: SparkSession,
    sf: str,
    tiers: tuple[str, ...],
    wave2: Callable[[DataFrame], DataFrame],
):
    """Drain two waves through real readStream/foreachBatch micro-batches
    of ``incremental_dedup`` in a temp warehouse and yield its Catalog:
    wave 1 = documents doc_id < STREAM_SLICE, wave 2 = ``wave2(wave 1)``.
    The temp dir goes on exit, so callers materialize (localCheckpoint)
    what they return before leaving the block: query outputs are collected
    AFTER the query function returns."""
    import shutil
    import tempfile

    from cargo_dupes_spark.sources.catalog import Catalog
    from cargo_dupes_spark.streaming.incremental import (
        incremental_dedup,
        read_web_pages_stream,
    )

    tmp = tempfile.mkdtemp(prefix="stream_q_")
    try:
        drops, ckpt = f"{tmp}/drops", f"{tmp}/ckpt"
        catalog = Catalog(spark, f"{tmp}/wh", CFG.config_hash())
        docs = load_documents(spark, sf).filter(
            F.col("doc_id") < STREAM_SLICE
        )
        for wave in (docs, wave2(docs)):
            wave.select(
                F.col("doc_id").cast("string").alias("url"),
                F.to_timestamp(F.lit("2026-01-01 12:00:00")).alias("warc_ts"),
                F.lit(None).cast("string").alias("html"),
                "text",
                "lang",
            ).coalesce(1).write.mode("append").parquet(drops)
            incremental_dedup(
                read_web_pages_stream(spark, drops), catalog, CFG, ckpt,
                tiers=tiers,
            ).awaitTermination(300)
        yield catalog
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_stream_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    # the incremental NEAR-dup tier end-to-end as a driver-oracle query
    # (VERDICT r3 Missing #2 made checkable): wave 1 = documents doc_id <
    # 300 (verified: ZERO organic shingle-Jaccard pairs >= 0.7 in that
    # slice, so every doc enters state); wave 2 = suffix-extended copies of
    # every 5th doc. The output keeps only the planted (copy -> original)
    # matches, whose Jaccard the DuckDB oracle recomputes over string
    # shingles (engine-equal up to 2^-64 hash collisions, same argument as
    # minhash_near_pairs; LSH misses at the planted pairs' J range are
    # <= 1.5e-4 per pair and the seeds are fixed, so the output is
    # deterministic for this dataset).
    from cargo_dupes_spark.streaming.incremental import load_stream_near_dups

    def wave2(docs: DataFrame) -> DataFrame:
        return docs.filter(F.col("doc_id") % STREAM_COPY_MOD == 0).select(
            (F.col("doc_id") + STREAM_COPY_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(NEAR_SUFFIX)).alias("text"),
            "lang",
        )

    with _stream_two_waves(spark, sf, ("exact", "near"), wave2) as catalog:
        return (
            load_stream_near_dups(catalog)
            .select(
                F.col("url").cast("long").alias("id_dup"),
                F.col("matched_url").cast("long").alias("id_src"),
                (F.round(F.col("similarity") * 1e6))
                .cast("long")
                .alias("jaccard_e6"),
            )
            .filter(
                (F.col("id_dup") >= STREAM_COPY_OFFSET)
                & (F.col("id_src") == F.col("id_dup") - STREAM_COPY_OFFSET)
            )
            .orderBy("id_dup")
            .localCheckpoint()
        )


def _q_stream_substring_dups(spark: SparkSession, sf: str) -> DataFrame:
    # the incremental SUBSTRING tier end-to-end as a driver-oracle query
    # (VERDICT r4 #5): wave 1 = documents doc_id < 300 (zero organic
    # >=64-char cross-doc runs in that slice — the batch substring oracle
    # already brute-force-checks a superset slice); wave 2 = 300-char
    # mid-document fragments of every 5th doc, probing winnow fingerprint
    # state. The output keeps the planted (fragment -> original)
    # containments, whose lcs_len the DuckDB oracle recomputes as the
    # normalized fragment's length under SQL contains() — the same
    # predicate as the batch tier's strpos oracle.
    from cargo_dupes_spark.streaming.incremental import (
        load_stream_substring_dups,
    )

    def wave2(docs: DataFrame) -> DataFrame:
        return docs.filter(
            (F.col("doc_id") % STREAM_SUB_MOD == 0)
            & (F.length("text") >= 400)
        ).select(
            (F.col("doc_id") + STREAM_SUB_OFFSET).alias("doc_id"),
            F.substring("text", 50, 300).alias("text"),
            "lang",
        )

    with _stream_two_waves(
        spark, sf, ("exact", "substring"), wave2
    ) as catalog:
        return (
            load_stream_substring_dups(catalog)
            # full containment only (similarity == 1), mirroring the batch
            # query's filter — partial overlaps have no SQL-computable LCS
            .filter(F.col("similarity") >= 0.999999)
            .select(
                F.col("url").cast("long").alias("id_dup"),
                F.col("matched_url").cast("long").alias("id_src"),
                F.col("lcs_len").cast("long").alias("lcs_len"),
            )
            .filter(
                (F.col("id_dup") >= STREAM_SUB_OFFSET)
                & (F.col("id_src") == F.col("id_dup") - STREAM_SUB_OFFSET)
            )
            .orderBy("id_dup")
            .localCheckpoint()
        )


def _q_stream_windowed_stats(spark: SparkSession, sf: str) -> DataFrame:
    # the watermark+window streaming aggregation as a driver-oracle query:
    # documents replay as a file-source stream with deterministic synthetic
    # event times (doc_id minutes past a fixed epoch), drained availableNow
    # in one batch (the watermark only advances BETWEEN batches, so no row
    # is late and the result equals the plain GROUP BY the oracle runs —
    # late-data DROPPING under an advanced watermark is pinned by
    # tests/test_streaming.py instead, where batch boundaries are
    # controlled).
    import shutil
    import tempfile
    import uuid

    from cargo_dupes_spark.streaming.incremental import (
        read_web_pages_stream,
        windowed_doc_stats,
    )

    tmp = tempfile.mkdtemp(prefix="stream_win_q_")
    try:
        docs = load_documents(spark, sf).filter(F.col("doc_id") < 500)
        pages = docs.select(
            F.col("doc_id").cast("string").alias("url"),
            (
                F.to_timestamp(F.lit("2026-01-01 00:00:00"))
                + F.make_interval(mins=F.col("doc_id").cast("int"))
            ).alias("warc_ts"),
            F.lit(None).cast("string").alias("html"),
            "text",
            "lang",
        )
        pages.coalesce(1).write.mode("append").parquet(f"{tmp}/drops")
        out = windowed_doc_stats(
            read_web_pages_stream(spark, f"{tmp}/drops")
        )
        sink = f"stream_win_q_{uuid.uuid4().hex[:8]}"  # repeat-call safe
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return (
            spark.table(sink)
            .select(
                F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                    "win_start"
                ),
                "lang",
                F.col("n_docs").cast("long").alias("n_docs"),
                F.col("n_chars").cast("long").alias("n_chars"),
            )
            .orderBy("win_start", "lang")
            .localCheckpoint()  # survives the temp checkpoint dir removal
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_doc_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    # F1 surfaced directly: oracle-reproducible 60-bit content fingerprint
    # of norm_text per doc (the engine-portable twin of xxhash64(norm_text))
    docs = load_documents(spark, sf)
    return docs.select(
        "doc_id",
        F.conv(
            F.substring(F.md5(normalize_text_col("text", CFG)), 1, 15), 16, 10
        )
        .cast("long")
        .alias("fp"),
    ).orderBy("doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "normalize_docs": _q_normalize,
        "min_tokens_filter": _q_min_tokens,
        "lang_partition": _q_lang_partition,
        "exact_dup_groups": dedup.exact_dup_groups,
        "dedup_stats": _q_dedup_stats,
        "ignore_anti": _q_ignore_anti,
        "ordering_top_groups": _q_ordering,
        "shingle_counts": _q_shingles,
        "boilerplate_tag": _q_boilerplate,
        "quality_scores": _q_quality,
        "token_counts": _q_token_counts,
        "lang_id": _q_lang_id,
        "minhash_near_pairs": dedup.minhash_near_pairs,
        "near_dup_clusters": dedup.near_dup_clusters,
        # the same clusters computed with 32-char-hex 128-bit CC node ids
        # (the 10^12-doc key width) — relabeled by min doc_id, so the same
        # recursive-CTE oracle pins the whole 128-bit id path
        "near_dup_clusters_wide": dedup.near_dup_clusters_wide,
        "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
        "substring_containment_pairs": dedup.substring_containment_pairs,
        "doc_segments": _q_doc_segments,
        "topk_cosine": _q_topk_cosine,
        "embedding_near_dups": _q_embedding_near_dups,
        "events_topk": _q_events_topk,
        # real PPM/WAV codecs (video = declared stub boundary); oracle over
        # the planted-dup index arithmetic
        "media_exact_dupes": _q_media_dupes,
        # Hamming-ball near tier over perceptual hashes; planted
        # perturbations with arithmetic-provable distances (0/2/0)
        "media_near_dupes": _q_media_near_dupes,
        "simhash_hamming_pairs": dedup.simhash_hamming_pairs,
        # exhaustive-candidate configs: emitted top-k == brute force, every
        # row hash-checked (scoring/ranking exactness contract)
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        # planted exact-copy vectors: ANN recall 1 by construction, SQL oracle
        "ann_planted_recall": _q_ann_planted_recall,
        "ann_ivf_planted_recall": _q_ann_ivf_planted_recall,
        # 128-bit fingerprint grouping through the real exact-tier operator
        "exact_dup_groups_wide": _q_exact_dup_groups_wide,
        # incremental streaming near-dup tier vs planted-copy SQL oracle
        "stream_near_dups": _q_stream_near_dups,
        # incremental streaming substring tier vs planted-fragment
        # containment SQL oracle
        "stream_substring_dups": _q_stream_substring_dups,
        # watermarked windowed streaming aggregation vs GROUP BY oracle
        "stream_windowed_stats": _q_stream_windowed_stats,
        "doc_fingerprints": _q_doc_fingerprints,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------
def _shingle_expr(tok_expr: str, k: int) -> str:
    return (
        f"list_distinct([array_to_string({tok_expr}[i:i+{k - 1}], ' ') "
        f"for i in range(1, greatest(len({tok_expr})-{k - 1}, 1)+1)])"
    )


_EXACT_UNION = f"""
  select doc_id, text from documents
  union all
  select doc_id + {EXACT_COPY_OFFSET}, text from documents
  where doc_id % {EXACT_COPY_MOD} = 0
"""

_NEAR_UNION = f"""
  select doc_id, text, lang from documents where doc_id < 2000
  union all
  select doc_id + {NEAR_COPY_OFFSET}, text || '{NEAR_SUFFIX}', lang
  from documents where doc_id % {NEAR_COPY_MOD} = 0 and doc_id < 2000
"""

_EXACT_GROUPS = f"""
  with docs as ({_EXACT_UNION}),
  norm as (select doc_id, {_NORM} as nt from docs)
  select min(doc_id) as rep_id, count(*) as n_members
  from norm group by nt having count(*) > 1
"""

_NEAR_EDGES = f"""
  docs as ({_NEAR_UNION}),
  norm as (select doc_id, lang, {_NORM} as nt from docs),
  toks as (select doc_id, lang, string_split(nt, ' ') as tk from norm),
  sh as (select doc_id, lang, {_shingle_expr('tk', _K)} as s from toks),
  edges as (
    select a.doc_id as id_a, b.doc_id as id_b,
      round(len(list_intersect(a.s, b.s))::double
            / len(list_distinct(list_concat(a.s, b.s))) * 1e6)::bigint as jaccard_e6
    from sh a join sh b on a.doc_id < b.doc_id and a.lang = b.lang
    where len(list_intersect(a.s, b.s))::double
          / len(list_distinct(list_concat(a.s, b.s))) >= {CFG.jaccard_threshold}
  )
"""


# near_dup_clusters and near_dup_clusters_wide (64- vs 128-bit ids) must
# return the same clusters
_NEAR_CLUSTERS = f"""
    with recursive {_NEAR_EDGES},
    bidir as (select id_a a, id_b b from edges
              union select id_b, id_a from edges),
    reach(src, dst) as (
      select a, a from bidir
      union
      select r.src, e.b from reach r join bidir e on r.dst = e.a
    )
    select src as doc_id, min(dst) as cluster_min
    from reach group by src order by doc_id
"""

# ann_lsh_topk / ann_ivf_topk: the Spark side runs the REAL operators in
# their exhaustive-candidate configurations (n_planes=0 / one IVF cell —
# candidate set provably complete), so the emitted rows must equal exact
# all-pairs top-k — which this SQL recomputes from scratch: cosine
# arithmetic, rank contiguity, k-bound, symmetry all hash-checked per row
# (the reference's verify discipline, similarity.rs:13-46)
_ANN_TOPK = """
    with c as (select vec_id,
                      list_transform(embedding, x -> x::double) as emb
               from embeddings),
    scored as (
      select a.vec_id as query_id, b.vec_id as neighbor_id,
             round(list_cosine_similarity(a.emb, b.emb)
                   * 1e6)::bigint as cosine_e6
      from c a join c b on a.vec_id != b.vec_id
    )
    select query_id, neighbor_id, cosine_e6,
           row_number() over (partition by query_id
                              order by cosine_e6 desc, neighbor_id) as rank
    from scored qualify rank <= 5 order by query_id, rank
"""


_SEGMENTS_SQL = (
    segment_paragraphs_sql(
        "(select doc_id, "
        "regexp_replace(text, ' table ', e'\\n\\n', 'g') as text "
        "from documents)"
    )
    + " order by doc_id, seg_idx"
)


def oracle_sql() -> dict[str, str]:
    nt = _NORM
    return {
        "normalize_docs": f"""
            select doc_id, {nt} as norm_text, {n_tokens_sql(nt)} as n_tokens
            from documents order by doc_id
        """,
        "min_tokens_filter": f"""
            select doc_id, n_tokens from (
              select doc_id, {n_tokens_sql(nt)} as n_tokens from documents
            ) where n_tokens >= 30 order by doc_id
        """,
        "lang_partition": f"""
            select lang, count(*) as n_docs,
                   sum({n_tokens_sql(nt)})::bigint as sum_tokens
            from documents group by lang order by lang
        """,
        "exact_dup_groups": f"{_EXACT_GROUPS} order by rep_id",
        "dedup_stats": f"""
            with docs as ({_EXACT_UNION}),
            norm as (select doc_id, {nt} as nt_ from docs),
            sized as (
              select count(*) as n, sum({n_tokens_sql('nt_')}) as tok
              from norm group by nt_
            )
            select sum(n)::bigint as total_docs,
                   sum(case when n > 1 then n else 0 end)::bigint as dup_docs,
                   sum(case when n > 1 then 1 else 0 end)::bigint as dup_groups,
                   round(sum(case when n > 1 then tok else 0 end) * 1e6
                         / sum(tok))::bigint as dup_token_pct_e6_of_1e6
            from sized
        """,
        "ignore_anti": f"""
            with g as ({_EXACT_GROUPS})
            select rep_id, n_members from g
            where rep_id not in (select rep_id from g where rep_id % 3 = 0)
            order by rep_id
        """,
        "ordering_top_groups": f"""
            with g as ({_EXACT_GROUPS})
            select rep_id, n_members from g
            order by n_members desc, rep_id asc limit 20
        """,
        "shingle_counts": f"""
            with norm as (select doc_id, {nt} as nt_ from documents),
            toks as (select doc_id, string_split(nt_, ' ') as tk from norm)
            select doc_id, len({_shingle_expr('tk', _K)}) as n_shingles
            from toks order by doc_id
        """,
        "boilerplate_tag": f"""
            with combined as (
              select doc_id, text from documents
              union all
              select * from (values
                (9000001, '404 Not Found - this page is missing'),
                (9000002, 'This domain is parked free courtesy of registrar')
              )
            )
            select doc_id, {is_boilerplate_sql(nt)} as is_boilerplate
            from combined order by doc_id
        """,
        "quality_scores": f"""
            select doc_id,
                   round({quality_score_sql('text')} * 1e6)::bigint as quality_e6
            from documents order by doc_id
        """,
        "token_counts": f"""
            select doc_id,
                   {whitespace_token_count_sql('text')}::bigint as ws_tokens,
                   {token_count_sql('text')}::bigint as subword_tokens
            from documents order by doc_id
        """,
        "lang_id": f"""
            select doc_id, {lang_id_sql(nt)} as lang_guess
            from documents order by doc_id
        """,
        "minhash_near_pairs": f"""
            with {_NEAR_EDGES}
            select id_a, id_b, jaccard_e6 from edges order by id_a, id_b
        """,
        # brute-force Hamming over identical signatures: the shingle hash is
        # the 60-bit md5 both engines compute byte-identically, and the
        # simhash bit-vote (majority per bit: 2*ones > n) mirrors the numpy
        # kernel exactly; bits 60..63 are always 0 (hash < 2^60), so
        # range(0,60) suffices and all arithmetic stays in signed int64
        "simhash_hamming_pairs": f"""
            with docs as ({_NEAR_UNION}),
            norm as (select doc_id, lang, {_NORM} as nt from docs),
            toks as (select doc_id, lang, string_split(nt, ' ') as tk from norm),
            sh as (select doc_id, lang,
                   {oracle_shingle_hash_sql(_shingle_expr('tk', _K))} as hs
                   from toks),
            sig as (select doc_id, lang,
              list_sum([case when 2*len(list_filter(hs, x -> (x >> b) & 1 = 1))
                             > len(hs)
                        then (1::bigint << b) else 0 end
                        for b in range(0, 60)])::bigint as sim
              from sh)
            select a.doc_id as id_a, b.doc_id as id_b,
                   bit_count(xor(a.sim, b.sim))::bigint as hamming
            from sig a join sig b on a.doc_id < b.doc_id and a.lang = b.lang
            where bit_count(xor(a.sim, b.sim)) <= {CFG.hamming_threshold}
            order by id_a, id_b
        """,
        "near_dup_clusters": _NEAR_CLUSTERS,
        "near_dup_clusters_wide": _NEAR_CLUSTERS,
        "ngram_jaccard_pairs": f"""
            with norm as (
              select doc_id, lang, {nt} as nt_ from documents where doc_id < 60
            ),
            toks as (select doc_id, lang,
                            list_distinct(string_split(nt_, ' ')) as tk from norm)
            select * from (
              select a.doc_id as id_a, b.doc_id as id_b,
                     round(len(list_intersect(a.tk, b.tk))::double
                           / len(list_distinct(list_concat(a.tk, b.tk))) * 1e6
                     )::bigint as jaccard_e6
              from toks a join toks b
                on a.doc_id < b.doc_id and a.lang = b.lang
            ) where jaccard_e6 >= 500000
            order by id_a, id_b
        """,
        "substring_containment_pairs": f"""
            with docs as (
              select doc_id, text, lang from documents where doc_id < 1500
              union all
              select doc_id + {SPAN_COPY_OFFSET}, substring(text, 50, 300), lang
              from documents
              where doc_id % {SPAN_COPY_MOD} = 0 and doc_id < 1500
                and length(text) >= 400
            ),
            norm as (select doc_id, lang, {nt} as nt_ from docs)
            select least(a.doc_id, b.doc_id) as id_a,
                   greatest(a.doc_id, b.doc_id) as id_b,
                   case when contains(a.nt_, b.nt_)
                        then strpos(a.nt_, b.nt_) - 1 else 0 end
                     ::bigint as span_a_start,
                   case when contains(a.nt_, b.nt_)
                        then 0 else strpos(b.nt_, a.nt_) - 1 end
                     ::bigint as span_b_start,
                   least(length(a.nt_), length(b.nt_))::bigint as lcs_len
            from norm a join norm b
              on a.doc_id < b.doc_id and a.lang = b.lang
            where (contains(a.nt_, b.nt_) and length(b.nt_) >= {CFG.min_substring_len})
               or (contains(b.nt_, a.nt_) and length(a.nt_) >= {CFG.min_substring_len})
            order by id_a, id_b
        """,
        "doc_segments": _SEGMENTS_SQL,
        "doc_fingerprints": f"""
            select doc_id,
                   ('0x' || substring(md5({_NORM}), 1, 15))::bigint as fp
            from documents order by doc_id
        """,
        "topk_cosine": """
            with q as (select vec_id, list_transform(embedding, x -> x::double) as embedding
                       from embeddings where vec_id < 20),
            c as (select vec_id, list_transform(embedding, x -> x::double) as embedding
                  from embeddings where vec_id < 1000),
            scored as (
              select q.vec_id as query_id, c.vec_id as neighbor_id,
                     round(list_cosine_similarity(q.embedding, c.embedding)
                           * 1e6)::bigint as cosine_e6
              from q join c on q.vec_id != c.vec_id
            )
            select query_id, neighbor_id, cosine_e6,
                   row_number() over (partition by query_id
                                      order by cosine_e6 desc, neighbor_id) as rank
            from scored qualify rank <= 5 order by query_id, rank
        """,
        "embedding_near_dups": """
            with base as (select vec_id, list_transform(embedding, x -> x::double)
                            as embedding from embeddings where vec_id < 1000),
            combined as (
              select vec_id, embedding from base
              union all
              select vec_id + 1000000,
                     list_transform(embedding, x -> x * 2.0) from base
            )
            select a.vec_id as id_a, b.vec_id as id_b,
                   round(list_cosine_similarity(a.embedding, b.embedding)
                         * 1e6)::bigint as cosine_e6
            from combined a join combined b on a.vec_id < b.vec_id
            where list_cosine_similarity(a.embedding, b.embedding) >= 0.99
            order by id_a, id_b
        """,
        "events_topk": """
            select user_id, event_id,
                   round(value * 1e6)::bigint as value_e6,
                   row_number() over (partition by user_id
                                      order by value desc, event_id) as rnk
            from events qualify rnk <= 3 order by user_id, rnk
        """,
        # media_exact_dupes: the features themselves are numpy-decoded, but
        # the PLANTED group structure is pure index arithmetic
        # (multimodal.synthetic_media n=96: row i with i%6==5 carries the
        # exact payload of row i-3; i%3==2 makes both 'video' rows), so the
        # (media_id, media_type, group_id=min id) contract is SQL-derivable
        "media_exact_dupes": """
            with planted as (
              select unnest(range(96)) as i
            ), dups as (select i from planted where i % 6 = 5)
            select media_id, media_type, group_id from (
              select (i - 3)::bigint as media_id, 'video' as media_type,
                     (i - 3)::bigint as group_id from dups
              union all
              select i::bigint, 'video', (i - 3)::bigint from dups
            ) order by media_id
        """,
        # media_near_dupes: the planted near-copies' aHash Hamming distances
        # are arithmetic facts of the perturbations (brightness shift with no
        # clipping -> 0; swapping the max/min-mean blocks keeps the global
        # mean and flips exactly those 2 bits; exact 2x int16 amplification
        # scales window energies by exactly 4 -> 0), so the pair/type/hamming
        # output is pure planting arithmetic over range(96): image rows are
        # i%3==0 (copies at i%6 in (0,3)), audio rows i%3==1 (copies at
        # i%6==1), copies at media_id + 10000
        "media_near_dupes": """
            with planted as (select unnest(range(96)) as i)
            select id_a, id_b, media_type, hamming from (
              select i::bigint as id_a, (i + 10000)::bigint as id_b,
                     'image' as media_type, 0::bigint as hamming
              from planted where i % 6 = 0
              union all
              select i::bigint, (i + 10000)::bigint, 'image', 2::bigint
              from planted where i % 6 = 3
              union all
              select i::bigint, (i + 10000)::bigint, 'audio', 0::bigint
              from planted where i % 6 = 1
            ) order by id_a, id_b
        """,
        "ann_lsh_topk": _ANN_TOPK,
        "ann_ivf_topk": _ANN_TOPK,
        # ann_planted_recall: every vec_id < 1000 has an exact copy at
        # vec_id + 1e6 (cosine exactly 1.0); the ANN candidate stage finds
        # each pair in every hash table by construction, so the output IS
        # the planting arithmetic
        "ann_planted_recall": """
            select vec_id::bigint as id_a,
                   (vec_id + 1000000)::bigint as id_b,
                   1000000::bigint as cosine_e6
            from embeddings where vec_id < 1000
            order by id_a
        """,
        # ann_ivf_planted_recall: identical vectors share every IVF centroid
        # assignment and cosine 1.0 outranks all non-identical candidates,
        # so the planted copy is each original's rank-1 neighbor
        "ann_ivf_planted_recall": """
            select vec_id::bigint as id_a,
                   (vec_id + 1000000)::bigint as id_b,
                   1000000::bigint as cosine_e6,
                   1::bigint as rank
            from embeddings where vec_id < 1000
            order by id_a
        """,
        "exact_dup_groups_wide": f"""
            with docs as ({_EXACT_UNION}),
            norm as (select doc_id, {nt} as nt_ from docs)
            select min(doc_id) as rep_id, count(*) as n_members,
                   sum({n_tokens_sql('nt_')})::bigint as total_tokens
            from norm group by nt_ having count(*) > 1
            order by rep_id
        """,
        # stream_near_dups: the slice doc_id<300 has ZERO organic pairs >=
        # threshold (verified by this same brute-force SQL over the full
        # slice), so streaming state holds every wave-1 doc and the near
        # dups are exactly the planted copies whose suffix-extended Jaccard
        # clears the threshold. similarity is stored rounded to 6 dp, hence
        # the double round here.
        "stream_near_dups": f"""
            with docs as (
              select doc_id, text, lang from documents
              where doc_id % {STREAM_COPY_MOD} = 0 and doc_id < {STREAM_SLICE}
            ),
            norm as (
              select doc_id,
                     {normalize_text_sql("text", CFG)} as nt0,
                     {normalize_text_sql(f"text || '{NEAR_SUFFIX}'", CFG)} as nt1
              from docs
            ),
            t as (select doc_id, string_split(nt0, ' ') as tk0,
                         string_split(nt1, ' ') as tk1 from norm),
            s as (select doc_id,
                         {_shingle_expr('tk0', _K)} as s0,
                         {_shingle_expr('tk1', _K)} as s1 from t),
            j as (select doc_id,
                         len(list_intersect(s0, s1))::double
                           / len(list_distinct(list_concat(s0, s1))) as jac
                  from s)
            select (doc_id + {STREAM_COPY_OFFSET})::bigint as id_dup,
                   doc_id::bigint as id_src,
                   round(round(jac, 6) * 1e6)::bigint as jaccard_e6
            from j where jac >= {CFG.jaccard_threshold}
            order by id_dup
        """,
        # stream_substring_dups: wave-2 fragments (substring(text, 50, 300)
        # of every 5th doc, length >= 400) are fully contained in their
        # originals after normalization iff SQL contains() says so — then
        # the streaming tier's exact LCS equals the normalized fragment's
        # length (similarity 1.0). No organic >= 64-char cross-doc run
        # exists in the slice (the batch substring oracle brute-force-checks
        # the superset doc_id < 1500).
        "stream_substring_dups": f"""
            with docs as (
              select doc_id, text from documents
              where doc_id % {STREAM_SUB_MOD} = 0 and doc_id < {STREAM_SLICE}
                and length(text) >= 400
            ),
            norm as (
              select doc_id,
                     {normalize_text_sql("text", CFG)} as nt_orig,
                     {normalize_text_sql("substring(text, 50, 300)", CFG)}
                       as nt_frag
              from docs
            )
            select (doc_id + {STREAM_SUB_OFFSET})::bigint as id_dup,
                   doc_id::bigint as id_src,
                   length(nt_frag)::bigint as lcs_len
            from norm
            where contains(nt_orig, nt_frag)
              and length(nt_frag) >= {CFG.min_substring_len}
            order by id_dup
        """,
        # stream_windowed_stats: event time = epoch + doc_id minutes; the
        # 1-hour tumbling window of the streaming agg equals
        # date_trunc('hour') since windows are epoch-aligned
        "stream_windowed_stats": """
            select strftime(date_trunc('hour',
                     timestamp '2026-01-01 00:00:00'
                     + to_minutes(doc_id)), '%Y-%m-%d %H:%M:%S') as win_start,
                   lang,
                   count(*)::bigint as n_docs,
                   sum(length(text))::bigint as n_chars
            from documents where doc_id < 500
            group by 1, 2 order by win_start, lang
        """,
    }
