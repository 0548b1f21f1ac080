"""Structured Streaming ingest: incremental dedup of arriving web pages.

The reference is a batch CLI (one ``analyze()`` per invocation,
``dupes-core/src/lib.rs:41-70``); a 100 TB training-data pipeline instead
sees web pages ARRIVE (new WARC drops land as files in a table location) and
must dedup each increment against everything already ingested without
re-scanning the corpus. This module is that incremental path:

  * ``read_web_pages_stream`` — file-source ``readStream`` over the same
    WEB_PAGES schema the batch pipeline uses (on a real cluster: Iceberg /
    Kafka source, identical downstream code).
  * ``incremental_dedup`` — foreachBatch: fingerprint the micro-batch
    (the batch tier's own prepare_columns UDFs), probe the accumulated
    fingerprint state table for hits, append new fingerprints to state and
    dup memberships to the output table. State lives in the Catalog
    (Iceberg/parquet), NOT in executor memory: state size is
    corpus-bounded, so it belongs in a table joined per-batch. The state
    table is PARTITIONED by fp_bucket = pmod(fingerprint, N)
    (cfg.stream_fp_buckets): the probe reads only the partitions the
    batch's own fingerprints can live in (``pruned_state`` — partition
    pruning, not a full-state scan), so per-batch probe IO is bounded by
    |batch's buckets| / N of the state, not O(corpus).
  * NEAR tier (``tiers=("exact", "near")``): each batch's canonical docs
    are checked against accumulated MinHash band-key state with the batch
    tier's exact shingle/signature config and verified by exact Jaccard —
    see ``_process_near_tier`` for the state layout and replay contract.
  * SUBSTRING tier (``tiers`` includes 'substring'): canonical docs'
    winnowed fingerprints probe accumulated fingerprint state and
    candidates verify with the exact rolling-hash LCS — see
    ``_process_substring_tier``.
  * ``windowed_doc_stats`` — watermark + windowed aggregation (late-data
    tolerant ingest monitoring: docs/tokens per lang per window).

Exactly-once notes: the streaming checkpoint (``checkpointLocation``) makes
the file source replay a failed batch; the state/membership appends are
at-least-once under replay. Replays are no-ops by construction: a replayed
batch's first-seen urls are already in state, so (a) the self-match filter
(url != matched_url) keeps them out of the dup stream and (b) the anti-join
against state keeps them out of the state append — the re-append is
provably EMPTY, so state stays one row per url without any read-time window
dedup. Residual insurance (a crash between the two appends re-committing
identical rows) is a full-row dropDuplicates at read: replayed rows carry
the SAME batch_id, so duplicates are exact-row duplicates and the dedup is
deterministic. ``load_stream_dups`` likewise dedups on (url, matched_url).
"""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.exact import apply_gates, prepare_columns
from ..schemas import WEB_PAGES
from ..sources.catalog import Catalog

STATE_TABLE = "stream_fps"
DUPS_TABLE = "stream_dups"
BANDS_TABLE = "stream_bands"
SIGS_TABLE = "stream_sigs"
NEAR_DUPS_TABLE = "stream_near_dups"
WINNOW_TABLE = "stream_winnow"
TEXTS_TABLE = "stream_texts"
SUBSTR_DUPS_TABLE = "stream_substring_dups"


def read_web_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of web_pages parquet drops (schema fixed, never
    inferred — a corrupt drop fails loudly instead of widening the schema).

    maxFilesPerTrigger bounds micro-batch size so one giant WARC drop cannot
    blow executor memory; at real scale this is the knob that shapes
    batch-size vs latency.
    """
    return (
        spark.readStream.schema(WEB_PAGES)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )


def _fingerprint_batch(
    batch: DataFrame, cfg: PipelineConfig, with_text: bool = False
) -> DataFrame:
    """Micro-batch -> (url[, lang, norm_text], fingerprint, n_tokens): the
    batch tier's own normalize/fingerprint UDFs (byte-identical norm_text
    contract), gated the same way so boilerplate/tiny docs never enter
    dedup state. lang/norm_text ride along only when the near tier needs
    them — the exact-only mode must not drag full document text into the
    per-batch localCheckpoint."""
    cols = (
        ["url", "lang", "norm_text", "fingerprint", "n_tokens"]
        if with_text
        else ["url", "fingerprint", "n_tokens"]
    )
    return apply_gates(prepare_columns(batch, cfg), cfg).select(*cols)


def _process_exact_tier(
    fps: DataFrame, catalog: Catalog, cfg: PipelineConfig, batch_id: int
) -> DataFrame:
    """Exact tier of one micro-batch: probe + state/dup appends. Returns the
    batch's CANONICAL docs (with whatever columns ``fps`` carried) — the
    near tier's input (exact dups are pre-excluded from near candidacy, the
    streaming analog of the batch tier's J1 representative rule).

    Canonical = first-seen-in-batch AND (absent from exact state OR present
    under the doc's OWN url). The second disjunct is the replay bridge: a
    batch that crashed AFTER the exact-state commit but BEFORE the near
    tier's commits replays with its docs already in stream_fps — dropping
    them here would leave their band/shingle state missing forever, so they
    flow to the near tier, whose own replay detection appends exactly the
    missing state and nothing else."""
    # one canonical row per fp within the batch (earliest url wins,
    # deterministic ordering)
    in_batch_first = fps.groupBy("fingerprint").agg(
        F.min("url").alias("first_url")
    )
    if catalog.exists(STATE_TABLE):
        # the fp partitions this batch can possibly hit — bounded by
        # min(|batch distinct fps|, stream_fp_buckets), tiny driver-side
        batch_buckets = [
            r[0]
            for r in in_batch_first.select(
                _fp_bucket_col(cfg)
            ).distinct().collect()
        ]
        state = pruned_state(catalog, cfg, batch_buckets).select(
            "fingerprint", F.col("url").alias("state_url")
        )
        # earliest prior owner per fp (state holds one row per fp;
        # min() is cheap insurance against partial-commit residue)
        state_first = state.groupBy("fingerprint").agg(
            F.min("state_url").alias("matched_url")
        )
    else:
        state_first = None

    # in-batch dups: same fp, not the batch's first-seen url
    dups = fps.join(in_batch_first, "fingerprint").filter(
        F.col("url") != F.col("first_url")
    ).select("fingerprint", "url", F.col("first_url").alias("matched_url"))

    new_fps = fps.join(in_batch_first, "fingerprint").filter(
        F.col("url") == F.col("first_url")
    )

    canonical = new_fps
    if state_first is not None:
        # url != matched_url: a batch REPLAYED after a crash (state
        # append committed, streaming checkpoint not) finds its own
        # first-seen urls in state — without the filter each would be
        # recorded as a duplicate of itself
        with_state = new_fps.join(state_first, "fingerprint", "left")
        hits = (
            with_state.filter(
                F.col("matched_url").isNotNull()
                & (F.col("url") != F.col("matched_url"))
            )
            .select("fingerprint", "url", "matched_url")
        )
        dups = dups.unionByName(hits)
        new_fps = with_state.filter(F.col("matched_url").isNull()).drop(
            "matched_url"
        )
        # canonical keeps the replay-bridge docs (own url in state)
        canonical = with_state.filter(
            F.col("matched_url").isNull()
            | (F.col("url") == F.col("matched_url"))
        ).drop("matched_url")

    batch_col = F.lit(int(batch_id)).alias("batch_id")
    catalog.append(
        new_fps.select(
            "url", "fingerprint", "n_tokens", batch_col, _fp_bucket_col(cfg)
        ),
        STATE_TABLE,
        partition_by=["fp_bucket"],
    )
    catalog.append(
        dups.select("fingerprint", "url", "matched_url", batch_col),
        DUPS_TABLE,
    )
    return canonical.drop("fingerprint", "n_tokens")


def _process_near_tier(
    new_docs: DataFrame, catalog: Catalog, cfg: PipelineConfig, batch_id: int
) -> None:
    """Near tier of one micro-batch, reusing the batch tier's machinery
    end-to-end (north_rule: recall is measured at identical
    shingle/signature config): shingle -> fused MinHash UDF -> the SAME
    32-band LSH keys as operators/lsh.py, probed against accumulated
    band-key state with partition pruning, verified by EXACT Jaccard
    against matched state docs' shingles (reference analog: the near tier
    grouper.rs:95-220, applied per increment).

    State layout (two tables, both hive/Iceberg-partitioned so per-batch
    probes prune, never scan the corpus):
      * stream_bands (url, band_key) partitioned by
        band_bucket = pmod(xxhash64(band_key), N) — the candidate probe
        touches only the batch's own band buckets: O(|batch| x bands / N).
      * stream_sigs (url, lang, shingles) partitioned by
        sig_bucket = pmod(xxhash64(url), N) — the verify step fetches
        shingles for MATCHED state urls only, pruned to their buckets.
    Probe fan-out is bounded on BOTH sides (never silent, SURVEY §7.4
    risk 4): in-batch pairing routes through the batch tier's own
    capped/salted/accounted ``nid_pairs_from_buckets``; state band keys
    matching more than cfg.max_bucket_size rows are excluded from the
    cross probe and ACCOUNTED ('dropped_band_keys' metric); a true near
    pair shares many other bands.

    Replay safety mirrors the exact tier: a replayed doc finds its OWN
    band keys in state -> (a) the url != matched_url filter keeps
    self-matches out of the dup stream, (b) docs whose url already owns
    band state are excluded from the state re-append. The sigs append runs
    BEFORE the bands append and replay detection keys on bands (the later
    commit), so a crash between the two re-appends sigs as exact-row
    duplicates — collapsed by the full-row dropDuplicates at every read.
    Chains are edge semantics: matched_url may itself be a near-dup of an
    earlier doc (transitive closure is the batch tier's CC job)."""
    from ..functions.shingles import with_shingles
    from ..functions.signatures import signature_udf
    from ..operators.lsh import minhash_band_keys_col, pairs_from_buckets
    from ..operators.verify import verify_pairs

    sig_fn = signature_udf(
        cfg.num_perm, cfg.minhash_seed, want_minhash=True, want_simhash=False
    )
    sigs = (
        with_shingles(
            new_docs.select("url", "lang", "norm_text"),
            "norm_text",
            cfg.shingle_k,
            cfg.shingle_seed,
        )
        .drop("norm_text")
        .withColumn("minhash", sig_fn(F.col("shingles"))["minhash"])
        .withColumn("band_keys", minhash_band_keys_col(cfg))
        .select("url", "lang", "shingles", "band_keys")
        .localCheckpoint()  # one Arrow pass; many downstream consumers
    )
    batch_bands = sigs.select(
        "url", F.explode("band_keys").alias("band_key")
    )

    # in-batch near pairs through the batch tier's capped/salted/accounted
    # pair machinery (a hot boilerplate band key inside one availableNow
    # backfill batch would otherwise self-join quadratically); the smaller
    # url is the canonical side (deterministic, batch-internal)
    pairs, flagged = pairs_from_buckets(
        batch_bands.select("url", F.lit(0).alias("band_id"), "band_key"),
        cfg,
        "near",
        urls=sigs,
    )
    if flagged:
        catalog.record_metrics(
            "stream_near", {"flagged_batch_buckets": float(len(flagged))}
        )
    shingles = sigs.select("url", "shingles")
    replayed = None
    if catalog.exists(BANDS_TABLE):
        buckets = [
            r[0]
            for r in batch_bands.select(_band_bucket_col(cfg))
            .distinct()
            .collect()
        ]
        state_bands = pruned_band_state(catalog, cfg, buckets).select(
            F.col("url").alias("state_url"), "band_key"
        )
        # cap probe fan-out: a boilerplate band key owned by a huge slice of
        # the corpus would fan the join out quadratically per batch
        sizes = state_bands.groupBy("band_key").agg(
            F.count(F.lit(1)).alias("sz")
        )
        hot = sizes.filter(F.col("sz") > cfg.max_bucket_size)
        n_hot = hot.count()
        if n_hot:
            catalog.record_metrics(
                "stream_near", {"dropped_band_keys": float(n_hot)}
            )
            state_bands = state_bands.join(
                F.broadcast(hot.select("band_key")), "band_key", "left_anti"
            )
        matches = batch_bands.join(state_bands, "band_key").localCheckpoint()
        replayed = (
            matches.filter(F.col("url") == F.col("state_url"))
            .select("url")
            .distinct()
        )
        cross = (
            matches.filter(F.col("url") != F.col("state_url"))
            .select("url", F.col("state_url").alias("matched_url"))
            .distinct()
        )
        m_buckets = [
            r[0]
            for r in cross.select(
                _sig_bucket_col(cfg, "matched_url")
            ).distinct().collect()
        ]
        if m_buckets:
            state_sigs = (
                catalog.read(SIGS_TABLE)
                .filter(F.col("sig_bucket").isin(m_buckets))
                .dropDuplicates()  # crash-residue insurance (exact-row dups)
                .select("url", "shingles")
                # a url present in BOTH batch and state (re-sent url) must
                # contribute ONE shingle row — the batch's wins
                .join(shingles.select("url"), "url", "left_anti")
            )
            shingles = shingles.unionByName(state_sigs)
            # the matched state doc is the canonical side (url_a)
            pairs = pairs.unionByName(
                cross.select(
                    F.col("matched_url").alias("url_a"),
                    F.col("url").alias("url_b"),
                    F.lit("near").alias("tier"),
                )
            )

    # the batch tier's own verify_pairs, so a borderline pair classifies
    # identically in both tiers (threshold on the RAW jaccard, rounding
    # only at output); url_a is the canonical side -> matched_url
    batch_col = F.lit(int(batch_id)).alias("batch_id")
    near = verify_pairs(pairs, shingles, cfg).select(
        F.col("url_b").alias("url"),
        F.col("url_a").alias("matched_url"),
        F.round("similarity", 6).alias("similarity"),
        batch_col,
    ).localCheckpoint()
    catalog.append(near, NEAR_DUPS_TABLE)

    # canonical docs enter near state: not a near-dup this batch, not
    # already owning band state (replay)
    to_state = sigs.join(
        near.select("url").distinct(), "url", "left_anti"
    )
    if replayed is not None:
        to_state = to_state.join(replayed, "url", "left_anti")
    to_state = to_state.localCheckpoint()  # sigs + bands appends both read it
    catalog.append(
        to_state.select(
            "url", "lang", "shingles", batch_col, _sig_bucket_col(cfg)
        ),
        SIGS_TABLE,
        partition_by=["sig_bucket"],
    )
    catalog.append(
        to_state.select(
            "url", F.explode("band_keys").alias("band_key")
        ).select("url", "band_key", batch_col, _band_bucket_col(cfg)),
        BANDS_TABLE,
        partition_by=["band_bucket"],
    )


def _process_substring_tier(
    new_docs: DataFrame, catalog: Catalog, cfg: PipelineConfig, batch_id: int
) -> None:
    """Substring tier of one micro-batch (VERDICT r4 #5): a drained batch
    whose doc CONTAINS (or is contained in) a prior doc at
    >= min_substring_len chars is detected, reusing the batch tier's
    winnowing candidate generation + exact rolling-hash LCS verify
    (operators/substring.py) against accumulated fingerprint state.

    State layout (same pmod(hash, N)-bucketed + pruned-probe pattern as the
    near tier's stream_bands/stream_sigs):
      * stream_winnow (url, band_key) partitioned by
        win_bucket = pmod(xxhash64(band_key), N) — winnowed fingerprints
        (~2% of chars), probed with partition pruning: O(|batch fps| / N).
      * stream_texts (url, lang, norm_text) partitioned by
        text_bucket = pmod(xxhash64(url), N) — the verify step fetches
        norm_text for MATCHED state urls only, pruned to their buckets.
    Hot fingerprint keys (boilerplate runs shared corpus-wide) are excluded
    from the cross probe above cfg.max_bucket_size and ACCOUNTED
    ('dropped_winnow_keys'); in-batch pairing routes through the
    capped/salted/accounted pair machinery. Replay safety mirrors the near
    tier: self-matches filter out of the dup stream, docs whose url already
    owns winnow state skip the state re-append, texts append before winnow
    (replay detection keys on the later commit)."""
    from ..operators.lsh import pairs_from_buckets
    from ..operators.substring import verify_substring_pairs, winnow_udf

    eligible = (
        new_docs.filter(F.length("norm_text") >= cfg.min_substring_len)
        .select("url", "lang", "norm_text")
        .localCheckpoint()
    )
    fps = eligible.select(
        "url",
        F.explode(
            winnow_udf(cfg.winnow_kgram, cfg.winnow_window)(F.col("norm_text"))
        ).alias("fph"),
        "lang",
    ).select(
        "url", F.xxhash64("lang", "fph").alias("band_key")
    ).localCheckpoint()

    # in-batch pairs through the capped/salted/accounted machinery; the
    # smaller url is the canonical side
    pairs, flagged = pairs_from_buckets(
        fps.select("url", F.lit(0).alias("band_id"), "band_key"),
        cfg,
        "substring",
        urls=eligible,
    )
    if flagged:
        catalog.record_metrics(
            "stream_substring", {"flagged_batch_buckets": float(len(flagged))}
        )
    texts = eligible.select("url", "norm_text")
    replayed = None
    if catalog.exists(WINNOW_TABLE):
        buckets = [
            r[0]
            for r in fps.select(_winnow_bucket_col(cfg)).distinct().collect()
        ]
        state_fps = pruned_winnow_state(catalog, cfg, buckets).select(
            F.col("url").alias("state_url"), "band_key"
        )
        sizes = state_fps.groupBy("band_key").agg(
            F.count(F.lit(1)).alias("sz")
        )
        hot = sizes.filter(F.col("sz") > cfg.max_bucket_size)
        n_hot = hot.count()
        if n_hot:
            catalog.record_metrics(
                "stream_substring", {"dropped_winnow_keys": float(n_hot)}
            )
            state_fps = state_fps.join(
                F.broadcast(hot.select("band_key")), "band_key", "left_anti"
            )
        matches = fps.join(state_fps, "band_key").localCheckpoint()
        replayed = (
            matches.filter(F.col("url") == F.col("state_url"))
            .select("url")
            .distinct()
        )
        cross = (
            matches.filter(F.col("url") != F.col("state_url"))
            .select("url", F.col("state_url").alias("matched_url"))
            .distinct()
        )
        m_buckets = [
            r[0]
            for r in cross.select(
                _text_bucket_col(cfg, "matched_url")
            ).distinct().collect()
        ]
        if m_buckets:
            state_texts = (
                catalog.read(TEXTS_TABLE)
                .filter(F.col("text_bucket").isin(m_buckets))
                .dropDuplicates()  # crash-residue insurance
                .select("url", "norm_text")
                # a url present in BOTH batch and state (re-sent url) must
                # contribute ONE text row — the batch's wins
                .join(eligible.select("url"), "url", "left_anti")
            )
            texts = texts.unionByName(state_texts)
            # the matched state doc is the canonical side (url_a)
            pairs = pairs.unionByName(
                cross.select(
                    F.col("matched_url").alias("url_a"),
                    F.col("url").alias("url_b"),
                    F.lit("substring").alias("tier"),
                )
            )

    batch_col = F.lit(int(batch_id)).alias("batch_id")
    edges = verify_substring_pairs(pairs, texts, cfg).select(
        F.col("url_b").alias("url"),
        F.col("url_a").alias("matched_url"),
        (F.col("span_a_end") - F.col("span_a_start")).alias("lcs_len"),
        F.round("similarity", 6).alias("similarity"),
        batch_col,
    ).localCheckpoint()
    catalog.append(edges, SUBSTR_DUPS_TABLE)

    # canonical docs enter substring state: not a substring-dup this batch,
    # not already owning winnow state (replay)
    to_state = eligible.join(
        edges.select("url").distinct(), "url", "left_anti"
    )
    if replayed is not None:
        to_state = to_state.join(replayed, "url", "left_anti")
    to_state = to_state.localCheckpoint()
    catalog.append(
        to_state.select(
            "url", "lang", "norm_text", batch_col, _text_bucket_col(cfg)
        ),
        TEXTS_TABLE,
        partition_by=["text_bucket"],
    )
    catalog.append(
        fps.join(to_state.select("url"), "url", "inner").select(
            "url", "band_key", batch_col, _winnow_bucket_col(cfg)
        ),
        WINNOW_TABLE,
        partition_by=["win_bucket"],
    )


def incremental_dedup(
    stream: DataFrame,
    catalog: Catalog,
    cfg: PipelineConfig,
    checkpoint_dir: str,
    tiers: tuple[str, ...] = ("exact",),
    available_now: bool = True,
):
    """Start the incremental dedup query; returns the StreamingQuery.

    Per micro-batch (foreachBatch — the sink is several table appends, not
    expressible as a single streaming sink):
      1. fingerprint the batch with the batch-tier UDFs,
      2. EXACT tier: probe ``stream_fps`` (partition-pruned), append hits to
         ``stream_dups`` and first-seen fps to state,
      3. NEAR tier (``tiers`` includes 'near'): the batch's canonical docs
         are MinHash-banded with the batch tier's exact config, probed
         against ``stream_bands``, exact-Jaccard-verified against matched
         docs' shingles from ``stream_sigs``, and appended to
         ``stream_near_dups`` (see ``_process_near_tier``).

    With ``available_now`` the query drains everything currently in the
    directory and stops — the deterministic test/backfill mode; without it
    the query runs continuously (production tail -f of the drop dir).
    """
    unknown = set(tiers) - {"exact", "near", "substring"}
    if unknown:
        raise ValueError(f"unknown streaming tiers: {sorted(unknown)}")
    if "exact" not in tiers:
        # near/substring build on the exact tier's canonical-doc
        # classification — silently running exact anyway would write state
        # the caller opted out of, so an exact-less tier tuple is an error
        raise ValueError(
            "the 'exact' tier is mandatory ('near'/'substring' build on it)"
        )
    _migrate_legacy_state(catalog, cfg)
    near = "near" in tiers
    substring = "substring" in tiers

    def _process(batch: DataFrame, batch_id: int) -> None:
        # localCheckpoint: the fingerprint UDF chain is referenced by four+
        # downstream plans (first-seen, dups, state probe, bucket collect) —
        # materialize the batch-sized frame once instead of re-normalizing
        # the batch per consumer
        fps = _fingerprint_batch(
            batch, cfg, with_text=near or substring
        ).localCheckpoint()
        new_docs = _process_exact_tier(fps, catalog, cfg, batch_id)
        # near and substring are INDEPENDENT detectors over the same
        # exact-canonical docs (the batch pipeline's parallel-detector shape)
        if near:
            _process_near_tier(new_docs, catalog, cfg, batch_id)
        if substring:
            _process_substring_tier(new_docs, catalog, cfg, batch_id)

    writer = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_exact_dedup(
    stream: DataFrame,
    catalog: Catalog,
    cfg: PipelineConfig,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exact-tier-only incremental dedup (see ``incremental_dedup``)."""
    return incremental_dedup(
        stream, catalog, cfg, checkpoint_dir,
        tiers=("exact",), available_now=available_now,
    )


def _fp_bucket_col(cfg: PipelineConfig):
    # pmod over a re-hash (not the raw fp) so the SAME expression buckets
    # 64-bit BIGINT and 128-bit hex-string fingerprints alike
    return (
        F.pmod(F.xxhash64("fingerprint"), F.lit(cfg.stream_fp_buckets))
        .cast("int")
        .alias("fp_bucket")
    )


def _band_bucket_col(cfg: PipelineConfig):
    return (
        F.pmod(F.xxhash64("band_key"), F.lit(cfg.stream_fp_buckets))
        .cast("int")
        .alias("band_bucket")
    )


def _sig_bucket_col(cfg: PipelineConfig, url_col: str = "url"):
    return (
        F.pmod(F.xxhash64(url_col), F.lit(cfg.stream_fp_buckets))
        .cast("int")
        .alias("sig_bucket")
    )


def _winnow_bucket_col(cfg: PipelineConfig):
    return (
        F.pmod(F.xxhash64("band_key"), F.lit(cfg.stream_fp_buckets))
        .cast("int")
        .alias("win_bucket")
    )


def _text_bucket_col(cfg: PipelineConfig, url_col: str = "url"):
    return (
        F.pmod(F.xxhash64(url_col), F.lit(cfg.stream_fp_buckets))
        .cast("int")
        .alias("text_bucket")
    )


def pruned_state(
    catalog: Catalog, cfg: PipelineConfig, buckets: list[int]
) -> DataFrame:
    """State rows living in the given fp_bucket partitions — the isin filter
    lands as a PartitionFilter on the scan (hive layout under the parquet
    fallback, identity partition spec under Iceberg), so every other
    partition's files are never opened. This is what keeps the per-batch
    probe O(|batch's buckets| / N of state) instead of O(state)."""
    return catalog.read(STATE_TABLE).filter(
        F.col("fp_bucket").isin([int(b) for b in buckets])
    )


def pruned_band_state(
    catalog: Catalog, cfg: PipelineConfig, buckets: list[int]
) -> DataFrame:
    """Band-key state rows in the given band_bucket partitions — the near
    tier's partition-pruned probe (same contract as ``pruned_state``)."""
    return catalog.read(BANDS_TABLE).filter(
        F.col("band_bucket").isin([int(b) for b in buckets])
    )


def pruned_winnow_state(
    catalog: Catalog, cfg: PipelineConfig, buckets: list[int]
) -> DataFrame:
    """Winnow-fingerprint state rows in the given win_bucket partitions —
    the substring tier's partition-pruned probe (same contract as
    ``pruned_state``)."""
    return catalog.read(WINNOW_TABLE).filter(
        F.col("win_bucket").isin([int(b) for b in buckets])
    )


def _migrate_legacy_state(catalog: Catalog, cfg: PipelineConfig) -> None:
    """One-time layout migration (ADVICE r3): a warehouse written by the
    pre-partitioned revision holds FLAT part-files (no fp_bucket column)
    in the stream_fps root; new appends land under fp_bucket= dirs, and
    Spark refuses the resulting mixed-depth listing. On stream start, any
    flat legacy files are rewritten into the partitioned layout (bucket
    derived from the fingerprint) and removed.

    Crash-ordering: tmp write -> move into partition dirs -> unlink legacy.
    A crash mid-sequence leaves the legacy files in place, so the next
    start re-migrates; the only residue is exact-row duplicate state rows,
    which every reader already collapses (full-row dropDuplicates /
    min-per-fp probe). Iceberg mode never hits this (schema evolution)."""
    if catalog.iceberg or not catalog.exists(STATE_TABLE):
        return
    root = catalog._path(STATE_TABLE)
    # clean tmp orphans from a previous crashed migration
    for orphan in root.parent.glob(f"{STATE_TABLE}__migrate_*"):
        shutil.rmtree(orphan, ignore_errors=True)
    legacy = sorted(str(p) for p in root.glob("*.parquet"))
    if not legacy:
        return
    spark = catalog.spark
    old = spark.read.parquet(*legacy)
    if "fp_bucket" not in old.columns:
        old = old.select(
            "url", "fingerprint", "n_tokens", "batch_id", _fp_bucket_col(cfg)
        )
    tmp = root.parent / f"{STATE_TABLE}__migrate_{uuid.uuid4().hex[:8]}"
    old.write.partitionBy("fp_bucket").parquet(str(tmp))
    for bucket_dir in tmp.glob("fp_bucket=*"):
        dest = root / bucket_dir.name
        dest.mkdir(exist_ok=True)
        for pf in bucket_dir.glob("*.parquet"):
            shutil.move(str(pf), str(dest / pf.name))
    for p in legacy:
        (root / p.split("/")[-1]).unlink(missing_ok=True)
    shutil.rmtree(tmp, ignore_errors=True)


def load_stream_state(catalog: Catalog) -> DataFrame:
    """Accumulated (url, fingerprint, n_tokens, batch_id, fp_bucket) state.

    Replays re-append NOTHING (the probe anti-join sees the first commit's
    rows — module docstring), so this is a plain read; the full-row
    dropDuplicates only defends against a crash between the state and dup
    appends re-committing identical rows (same batch_id -> exact-row dups,
    deterministic dedup). No window, no sort — an O(state) shuffle-free
    hash-dedup instead of the previous row_number over the entire table."""
    return catalog.read(STATE_TABLE).dropDuplicates()


def load_stream_dups(catalog: Catalog) -> DataFrame:
    """Detected duplicate arrivals, replay-safe (one row per url+match)."""
    if not catalog.exists(DUPS_TABLE):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("fingerprint", T.LongType()),
                T.StructField("url", T.StringType()),
                T.StructField("matched_url", T.StringType()),
                T.StructField("batch_id", T.LongType()),
            ]
        )
        return catalog.spark.createDataFrame([], schema)
    return catalog.read(DUPS_TABLE).dropDuplicates(["url", "matched_url"])


def load_stream_near_dups(catalog: Catalog) -> DataFrame:
    """Detected NEAR-duplicate arrivals (url, matched_url, similarity,
    batch_id), replay-safe (one row per url+match)."""
    if not catalog.exists(NEAR_DUPS_TABLE):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("matched_url", T.StringType()),
                T.StructField("similarity", T.DoubleType()),
                T.StructField("batch_id", T.LongType()),
            ]
        )
        return catalog.spark.createDataFrame([], schema)
    return catalog.read(NEAR_DUPS_TABLE).dropDuplicates(
        ["url", "matched_url"]
    )


def load_stream_substring_dups(catalog: Catalog) -> DataFrame:
    """Detected SUBSTRING-duplicate arrivals (url, matched_url, lcs_len,
    similarity, batch_id), replay-safe (one row per url+match)."""
    if not catalog.exists(SUBSTR_DUPS_TABLE):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("matched_url", T.StringType()),
                T.StructField("lcs_len", T.LongType()),
                T.StructField("similarity", T.DoubleType()),
                T.StructField("batch_id", T.LongType()),
            ]
        )
        return catalog.spark.createDataFrame([], schema)
    return catalog.read(SUBSTR_DUPS_TABLE).dropDuplicates(
        ["url", "matched_url"]
    )


def windowed_doc_stats(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "15 minutes",
) -> DataFrame:
    """Watermarked windowed ingest stats: docs + token-ish volume per
    (event-time window, lang). Late pages inside the watermark update their
    window; older ones are dropped by the engine (bounded state — the whole
    point of the watermark at 10^12-doc scale).
    """
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_docs",
            "n_chars",
        )
    )
