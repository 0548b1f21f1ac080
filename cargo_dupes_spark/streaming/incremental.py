"""Structured Streaming ingest: incremental dedup of arriving web pages.

The reference is a batch CLI (one ``analyze()`` per invocation,
``dupes-core/src/lib.rs:41-70``); a 100 TB training-data pipeline instead
sees web pages ARRIVE (new WARC drops land as files in a table location) and
must dedup each increment against everything already ingested without
re-scanning the corpus. This module is that incremental path:

  * ``read_web_pages_stream`` — file-source ``readStream`` over the same
    WEB_PAGES schema the batch pipeline uses (on a real cluster: Iceberg /
    Kafka source, identical downstream code).
  * ``incremental_dedup`` — foreachBatch over three tiers, each the batch
    pipeline's detector applied per increment: EXACT (fingerprint), NEAR
    (MinHash band keys, exact-Jaccard verify) and SUBSTRING (winnowed
    fingerprints, exact-LCS verify).
  * ``windowed_doc_stats`` — watermark + windowed aggregation (late-data
    tolerant ingest monitoring: docs/tokens per lang per window).

State lives in Catalog tables (Iceberg/parquet), NOT in executor memory:
state size is corpus-bounded, so it belongs in a table joined per batch.
Every state table is partitioned by pmod(hash(column), N)
(N = ``STATE_BUCKETS``; ``_BUCKETS`` maps each table to its partition
column), and every probe reads only the partitions the batch's own values
hash to (``pruned``), so per-batch probe IO is bounded by |batch's
buckets| / N of the state, not O(corpus). The exact tier probes
``stream_fps`` by fingerprint. The near and substring tiers share one
keyed-state probe (``_probe_state``): a (url, band_key) key table to find
candidates and a (url, lang, payload) table to verify them.

Exactly-once notes: the streaming checkpoint (``checkpointLocation``) makes
the file source replay a failed batch; the state/membership appends are
at-least-once under replay. Replays are no-ops by construction: a replayed
batch's first-seen urls are already in state, so (a) the self-match filter
(url != matched_url) keeps them out of the dup stream and (b) the anti-join
against state keeps them out of the state append — the re-append is
provably EMPTY, so state stays one row per url without any read-time window
dedup. Residual insurance (a crash between two appends re-committing
identical rows) is a full-row dropDuplicates at read: replayed rows carry
the SAME batch_id, so duplicates are exact-row duplicates and the dedup is
deterministic. The dups loaders likewise dedup on (url, matched_url).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.exact import apply_gates, prepare_columns
from ..operators.lsh import DETECTORS, pairs_from_buckets, signatures
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
    dedup state. lang/norm_text ride along only when the near or
    substring tier needs them — the exact-only mode must not drag full
    document text into the per-batch localCheckpoint.

    A url sent twice in one batch keeps ONE row (every tier keys state and
    pairs on url): the latest warc_ts wins, ties broken on content, so a
    replay keeps the same row. The batch is bounded; no state is read."""
    latest = batch.groupBy("url").agg(
        F.max(F.struct("warc_ts", "text", "html", "lang")).alias("_r")
    ).select("url", "_r.*")
    cols = (
        ["url", "lang", "norm_text", "fingerprint", "n_tokens"]
        if with_text
        else ["url", "fingerprint", "n_tokens"]
    )
    return apply_gates(prepare_columns(latest, cfg), cfg).select(*cols)


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
        # only the fp partitions this batch can possibly hit
        state = pruned(
            catalog, STATE_TABLE, _buckets(in_batch_first, STATE_TABLE)
        ).select("fingerprint", F.col("url").alias("state_url"))
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
            "url", "fingerprint", "n_tokens", batch_col,
            _bucket_col(STATE_TABLE),
        ),
        STATE_TABLE,
        partition_by=["fp_bucket"],
    )
    catalog.append(
        dups.select("fingerprint", "url", "matched_url", batch_col),
        DUPS_TABLE,
    )
    return canonical.drop("fingerprint", "n_tokens")


@dataclass(frozen=True)
class _Tier:
    """One keyed-state tier: the batch detector it runs (its keys, label,
    payload and verify come from ``lsh.DETECTORS``) and where its state
    lives. ``out`` are SQL projections of the verify output kept in the
    dups table next to (url, matched_url, batch_id)."""

    detector: str
    keys_table: str
    payload_table: str
    dups_table: str
    out: tuple[str, ...]


_TIERS = {
    "near": _Tier(
        "minhash", BANDS_TABLE, SIGS_TABLE, NEAR_DUPS_TABLE,
        ("round(similarity, 6) AS similarity",),
    ),
    "substring": _Tier(
        "substring", WINNOW_TABLE, TEXTS_TABLE, SUBSTR_DUPS_TABLE,
        ("span_a_end - span_a_start AS lcs_len",
         "round(similarity, 6) AS similarity"),
    ),
}


def _process_tier(
    tier: _Tier,
    new_docs: DataFrame,
    catalog: Catalog,
    cfg: PipelineConfig,
    batch_id: int,
) -> None:
    """The batch tier's own sketches and keys of the canonical ``new_docs``
    (recall is measured at identical config) into ``_probe_state``. A doc
    with no keys (shorter than min_substring_len) stays out of state."""
    keys = DETECTORS[tier.detector].keys
    docs = signatures(new_docs, cfg, (tier.detector,)).filter(F.size(keys) > 0)
    # one UDF pass; many downstream consumers
    _probe_state(tier, docs.localCheckpoint(), catalog, cfg, batch_id)


def _probe_state(
    tier: _Tier,
    docs: DataFrame,
    catalog: Catalog,
    cfg: PipelineConfig,
    batch_id: int,
) -> None:
    """One micro-batch of a keyed-state tier: the batch's one-row-per-url
    (url, lang, payload, keys) ``docs`` -> verified dups appended to
    ``tier.dups_table``; the docs that are not dups enter payload state,
    then key state.

    Candidates are the batch's in-batch pairs (the batch tier's
    capped/salted/accounted pair machinery, smaller url canonical) plus its
    cross pairs against the key-state table, probed only in the partitions
    the batch's keys hash to. State keys owned by more than
    max_bucket_size urls (boilerplate shared corpus-wide) leave the cross
    probe and are ACCOUNTED; a true dup pair shares many other keys. Both
    pair sets verify in ONE call against batch payload plus the matched
    state urls' payload, fetched from their partitions only (the batch's
    row wins for a re-sent url); the matched state doc is the canonical
    side.

    Replay safety mirrors the exact tier: a replayed doc finds its OWN keys
    in state, so it never matches itself and is not re-appended. Payload
    appends before keys and replay detection keys on keys (the later
    commit): a crash between the two re-appends payload rows as exact-row
    duplicates, collapsed by the full-row dropDuplicates at every read."""
    d = DETECTORS[tier.detector]
    keys = docs.select("url", F.explode(d.keys).alias("band_key"))
    pairs, flagged = pairs_from_buckets(docs, d.keys, cfg, d.label)
    stage = f"stream_{d.label}"
    if flagged:
        catalog.record_metrics(
            stage, {"flagged_batch_buckets": float(len(flagged))}
        )
    texts = docs.select("url", d.payload)
    replayed = None
    if catalog.exists(tier.keys_table):
        state = pruned(
            catalog, tier.keys_table, _buckets(keys, tier.keys_table)
        ).select(F.col("url").alias("state_url"), "band_key")
        hot = (
            state.groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("sz"))
            .filter(F.col("sz") > cfg.max_bucket_size)
        )
        n_hot = hot.count()
        if n_hot:
            catalog.record_metrics(stage, {f"dropped_{d.keys}": float(n_hot)})
            state = state.join(
                F.broadcast(hot.select("band_key")), "band_key", "left_anti"
            )
        matches = keys.join(state, "band_key").localCheckpoint()
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
        m_buckets = _buckets(cross, tier.payload_table, "matched_url")
        if m_buckets:
            texts = texts.unionByName(
                pruned(catalog, tier.payload_table, m_buckets)
                .dropDuplicates()  # crash-residue insurance (exact-row dups)
                .select("url", d.payload)
                .join(docs.select("url"), "url", "left_anti")
            )
            pairs = pairs.unionByName(
                cross.select(
                    F.col("matched_url").alias("url_a"),
                    F.col("url").alias("url_b"),
                    F.lit(d.label).alias("tier"),
                )
            )

    batch_col = F.lit(int(batch_id)).alias("batch_id")
    dups = d.verify(pairs, texts, cfg).select(
        F.col("url_b").alias("url"),
        F.col("url_a").alias("matched_url"),
        *[F.expr(e) for e in tier.out],
        batch_col,
    ).localCheckpoint()
    catalog.append(dups, tier.dups_table)

    to_state = docs.join(dups.select("url").distinct(), "url", "left_anti")
    if replayed is not None:
        to_state = to_state.join(replayed, "url", "left_anti")
    to_state = to_state.localCheckpoint()  # both appends read it
    for table, rows in (
        (tier.payload_table, to_state.select("url", "lang", d.payload)),
        (tier.keys_table,
         to_state.select("url", F.explode(d.keys).alias("band_key"))),
    ):
        catalog.append(
            rows.select("*", batch_col, _bucket_col(table)),
            table,
            partition_by=[_BUCKETS[table][0]],
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
      2. EXACT tier: probe ``stream_fps``, append hits to ``stream_dups``
         and first-seen fps to state; the rest of the batch is its
         canonical docs,
      3. NEAR tier (``tiers`` includes 'near'): the canonical docs' MinHash
         band keys probe ``stream_bands``, verify against ``stream_sigs``
         and append to ``stream_near_dups``,
      4. SUBSTRING tier (``tiers`` includes 'substring'): the canonical
         docs' winnowed fingerprints probe ``stream_winnow``, verify against
         ``stream_texts`` and append to ``stream_substring_dups``.

    With ``available_now`` the query drains everything currently in the
    directory and stops — the deterministic test/backfill mode; without it
    the query runs continuously (production tail -f of the drop dir).
    """
    unknown = set(tiers) - {"exact", *_TIERS}
    if unknown:
        raise ValueError(f"unknown streaming tiers: {sorted(unknown)}")
    if "exact" not in tiers:
        # near/substring build on the exact tier's canonical-doc
        # classification — silently running exact anyway would write state
        # the caller opted out of, so an exact-less tier tuple is an error
        raise ValueError(
            "the 'exact' tier is mandatory ('near'/'substring' build on it)"
        )
    # refuse state this layout cannot read, before the width check reads
    # it: flat part-files in the stream_fps root (the layout before the
    # state was partitioned) beside the fp_bucket= dirs a batch appends
    # make a mixed-depth listing Spark will not read
    if not catalog.iceberg and any(
        catalog._path(STATE_TABLE).glob("*.parquet")
    ):
        raise ValueError(
            f"{STATE_TABLE} holds flat part-files (the unpartitioned layout "
            f"of earlier versions); rebuild the state partitioned by "
            f"fp_bucket or start on a fresh warehouse"
        )
    # the one key-shaping knob still settable: state at another width would
    # take the batch's fingerprints as a foreign type, match none of them
    # and fail every later full read, so refuse before any batch runs
    want = "string" if cfg.fingerprint_bits == 128 else "bigint"
    if catalog.exists(STATE_TABLE):
        have = dict(catalog.read(STATE_TABLE).dtypes)["fingerprint"]
        if have != want:
            raise ValueError(
                f"{STATE_TABLE} holds {have} fingerprints, but "
                f"fingerprint_bits={cfg.fingerprint_bits} needs {want}"
            )
    keyed = [t for name, t in _TIERS.items() if name in tiers]

    def _process(batch: DataFrame, batch_id: int) -> None:
        # localCheckpoint: the fingerprint UDF chain is referenced by four+
        # downstream plans (first-seen, dups, state probe, bucket collect) —
        # materialize the batch-sized frame once instead of re-normalizing
        # the batch per consumer
        fps = _fingerprint_batch(
            batch, cfg, with_text=bool(keyed)
        ).localCheckpoint()
        new_docs = _process_exact_tier(fps, catalog, cfg, batch_id)
        # near and substring are INDEPENDENT detectors over the same
        # exact-canonical docs (the batch pipeline's parallel-detector shape)
        for tier in keyed:
            _process_tier(tier, new_docs, catalog, cfg, batch_id)

    writer = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# partitions per state table. Fixed: the tables persist across restarts, and
# a different count would probe the wrong partitions for most keys
# (repartitioning the state is a job of its own, not a setting)
STATE_BUCKETS = 64

# table -> (partition column, hashed column). pmod over a re-hash, not the
# raw value, so one expression buckets BIGINT and hex-string fingerprints
_BUCKETS = {
    STATE_TABLE: ("fp_bucket", "fingerprint"),
    BANDS_TABLE: ("band_bucket", "band_key"),
    SIGS_TABLE: ("sig_bucket", "url"),
    WINNOW_TABLE: ("win_bucket", "band_key"),
    TEXTS_TABLE: ("text_bucket", "url"),
}


def _bucket_col(table: str, src: str | None = None):
    """``table``'s partition column, hashed from ``src`` (default: the
    column the table buckets on)."""
    name, hashed = _BUCKETS[table]
    return (
        F.pmod(F.xxhash64(src or hashed), F.lit(STATE_BUCKETS))
        .cast("int")
        .alias(name)
    )


def _buckets(df: DataFrame, table: str, src: str | None = None) -> list[int]:
    """The ``table`` partitions ``df``'s rows can live in — bounded by
    STATE_BUCKETS, so the collect is tiny."""
    col = _bucket_col(table, src)
    return [r[0] for r in df.select(col).distinct().collect()]


def pruned(catalog: Catalog, table: str, buckets: list[int]) -> DataFrame:
    """``table``'s rows in the given bucket partitions — the isin filter
    lands as a PartitionFilter on the scan (hive layout under the parquet
    fallback, identity partition spec under Iceberg), so every other
    partition's files are never opened. This is what keeps each per-batch
    probe O(|batch's buckets| / N of state) instead of O(state)."""
    return catalog.read(table).filter(
        F.col(_BUCKETS[table][0]).isin([int(b) for b in buckets])
    )


def load_stream_state(catalog: Catalog) -> DataFrame:
    """Accumulated (url, fingerprint, n_tokens, batch_id, fp_bucket) state.

    Replays re-append NOTHING (the probe anti-join sees the first commit's
    rows — module docstring), so this is a plain read; the full-row
    dropDuplicates only defends against a crash between the state and dup
    appends re-committing identical rows (same batch_id -> exact-row dups,
    deterministic dedup). No window, no sort — an O(state) shuffle-free
    hash-dedup instead of the previous row_number over the entire table."""
    return catalog.read(STATE_TABLE).dropDuplicates()


def _load_dups(catalog: Catalog, table: str, schema: str) -> DataFrame:
    """A dups table, replay-safe (one row per url+match); empty with
    ``schema`` before the first append."""
    if not catalog.exists(table):
        return catalog.spark.createDataFrame([], schema)
    return catalog.read(table).dropDuplicates(["url", "matched_url"])


def load_stream_dups(catalog: Catalog) -> DataFrame:
    """Detected exact-duplicate arrivals."""
    return _load_dups(catalog, DUPS_TABLE, "fingerprint BIGINT, url STRING, "
                      "matched_url STRING, batch_id BIGINT")


def load_stream_near_dups(catalog: Catalog) -> DataFrame:
    """Detected NEAR-duplicate arrivals."""
    return _load_dups(catalog, NEAR_DUPS_TABLE, "url STRING, matched_url "
                      "STRING, similarity DOUBLE, batch_id BIGINT")


def load_stream_substring_dups(catalog: Catalog) -> DataFrame:
    """Detected SUBSTRING-duplicate arrivals."""
    return _load_dups(catalog, SUBSTR_DUPS_TABLE, "url STRING, matched_url "
                      "STRING, lcs_len BIGINT, similarity DOUBLE, "
                      "batch_id BIGINT")


def windowed_doc_stats(stream: DataFrame) -> DataFrame:
    """Watermarked windowed ingest stats: docs + token-ish volume per
    (1-hour event-time window, lang). Pages up to 15 minutes late update
    their window; older ones are dropped by the engine (bounded state — the
    whole point of the watermark at 10^12-doc scale).
    """
    return (
        stream.withWatermark("warc_ts", "15 minutes")
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
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
