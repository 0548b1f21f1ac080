"""Structured Streaming incremental dedup: two arrival waves, cross-wave
exact-dup detection against accumulated state, checkpoint-based resume (the
second query run must NOT reprocess wave-1 files), and watermarked windowed
ingest stats."""

from __future__ import annotations

import datetime as dt

import pytest

from cargo_dupes_spark.config import PipelineConfig
from cargo_dupes_spark.schemas import WEB_PAGES
from cargo_dupes_spark.sources.catalog import Catalog
from cargo_dupes_spark.streaming.incremental import (
    BANDS_TABLE,
    STATE_TABLE,
    WINNOW_TABLE,
    incremental_dedup,
    load_stream_dups,
    load_stream_state,
    pruned,
    read_web_pages_stream,
    windowed_doc_stats,
)

TS = dt.datetime(2026, 1, 1, 12, 0, 0)


def _pages(spark, rows):
    data = [
        (url, ts, None, text, lang) for (url, ts, text, lang) in rows
    ]
    return spark.createDataFrame(data, WEB_PAGES)


WAVE1 = [
    ("http://a.example/1", TS, "alpha beta gamma delta epsilon zeta one", "en"),
    ("http://a.example/2", TS, "alpha beta gamma delta epsilon zeta one", "en"),
    ("http://a.example/3", TS, "totally different content words here now two", "en"),
]
WAVE2 = [
    # byte-identical to wave-1 url /1 -> cross-wave dup
    ("http://b.example/9", TS, "alpha beta gamma delta epsilon zeta one", "en"),
    ("http://b.example/10", TS, "fresh new never seen text in wave two", "en"),
]


@pytest.fixture()
def stream_env(spark, tmp_path):
    cfg = PipelineConfig(warehouse=str(tmp_path / "wh"))
    catalog = Catalog(spark, cfg.warehouse, cfg.config_hash())
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    return cfg, catalog, str(drop_dir), ckpt


def _drain(stream_df, catalog, cfg, ckpt, tiers=("exact",)):
    q = incremental_dedup(stream_df, catalog, cfg, ckpt, tiers=tiers)
    q.awaitTermination(180)
    assert not q.isActive


def test_incremental_dedup_two_waves(spark, stream_env):
    cfg, catalog, drop_dir, ckpt = stream_env

    _pages(spark, WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    state1 = {r.url for r in load_stream_state(catalog).collect()}
    dups1 = {(r.url, r.matched_url) for r in load_stream_dups(catalog).collect()}
    # in-batch dup: /2 matched to /1 (earliest url); state holds one row per fp
    assert state1 == {"http://a.example/1", "http://a.example/3"}
    assert dups1 == {("http://a.example/2", "http://a.example/1")}

    _pages(spark, WAVE2).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    state2 = {r.url for r in load_stream_state(catalog).collect()}
    dups2 = {(r.url, r.matched_url) for r in load_stream_dups(catalog).collect()}
    # cross-wave dup detected against state; only the genuinely new doc
    # entered state; wave-1 rows were NOT reprocessed (their dup row count
    # is unchanged — checkpoint resume skipped the already-read file)
    assert state2 == state1 | {"http://b.example/10"}
    assert dups2 == dups1 | {("http://b.example/9", "http://a.example/1")}
    # replay-safety: state reader collapses to one row per url
    assert load_stream_state(catalog).count() == 3


def test_replayed_batch_is_noop(spark, stream_env, tmp_path):
    """Crash-replay contract: state appends committed but the streaming
    checkpoint lost -> the same files replay as a fresh batch against the
    committed state. The replay must append nothing to state and record no
    self-duplicates (url == matched_url)."""
    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    state1 = sorted(
        (r.url, r.fingerprint) for r in load_stream_state(catalog).collect()
    )
    dups1 = {(r.url, r.matched_url) for r in load_stream_dups(catalog).collect()}

    # replay: fresh checkpoint dir, same drops, same committed state
    _drain(
        read_web_pages_stream(spark, drop_dir), catalog, cfg,
        str(tmp_path / "ckpt_replay"),
    )
    state2 = sorted(
        (r.url, r.fingerprint) for r in load_stream_state(catalog).collect()
    )
    dups2 = {(r.url, r.matched_url) for r in load_stream_dups(catalog).collect()}
    assert state2 == state1
    assert dups2 == dups1
    assert all(u != m for u, m in dups2)


def test_cli_stream_subcommand(spark, stream_env, tmp_path):
    """`cli stream <dir>` drains available drops in a fresh process and
    reports the duplicate-arrival count (wiring test for the O3 surface)."""
    import subprocess
    import sys

    cfg, _, drop_dir, _ = stream_env
    _pages(spark, WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    proc = subprocess.run(
        [
            sys.executable, "-m", "cargo_dupes_spark.cli",
            "--warehouse", cfg.warehouse,
            "--parallelism", "4",
            "stream", drop_dir,
        ],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "1 duplicate arrivals recorded" in proc.stdout


def test_restart_at_other_fingerprint_width_is_refused(
    spark, stream_env, monkeypatch, capsys, tmp_path
):
    """A stream drained at fingerprint_bits=64 and restarted on the same
    warehouse at 128 would append STRING fingerprints into the BIGINT
    state: the cross-wave exact dup would be lost without an error and
    every later state read would fail. The restart raises before any batch
    runs (the CLI exits 2), the state still reads, and a restart at the
    stored width then finds the dup."""
    import dataclasses

    from cargo_dupes_spark import cli

    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    _pages(spark, WAVE2).coalesce(1).write.mode("append").parquet(drop_dir)

    wide = dataclasses.replace(cfg, fingerprint_bits=128)
    with pytest.raises(ValueError, match="fingerprint_bits"):
        incremental_dedup(
            read_web_pages_stream(spark, drop_dir), catalog, wide, ckpt
        )
    monkeypatch.setattr(cli, "build_session", lambda **_: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    toml = tmp_path / "wide.toml"
    toml.write_text("[pipeline]\nfingerprint_bits = 128\n")
    code = cli.main([
        "--config", str(toml), "--warehouse", cfg.warehouse,
        "stream", drop_dir, "--checkpoint", ckpt,
    ])
    assert code == 2
    assert "fingerprint_bits" in capsys.readouterr().err

    state = {r.url for r in load_stream_state(catalog).collect()}
    assert state == {"http://a.example/1", "http://a.example/3"}
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    dups = {(r.url, r.matched_url) for r in load_stream_dups(catalog).collect()}
    assert ("http://b.example/9", "http://a.example/1") in dups


def test_windowed_doc_stats(spark, stream_env):
    _, _, drop_dir, ckpt = stream_env
    rows = [
        ("u1", dt.datetime(2026, 1, 1, 12, 5), "aa bb cc dd ee ff", "en"),
        ("u2", dt.datetime(2026, 1, 1, 12, 40), "gg hh ii jj kk ll", "en"),
        ("u3", dt.datetime(2026, 1, 1, 13, 10), "mm nn oo pp qq rr", "de"),
    ]
    _pages(spark, rows).coalesce(1).write.mode("append").parquet(drop_dir)

    out = windowed_doc_stats(read_web_pages_stream(spark, drop_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("win_stats")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.hour, r.lang): r.n_docs
        for r in spark.table("win_stats").collect()
    }
    assert got == {(12, "en"): 2, (13, "de"): 1}


# ---------------------------------------------------------------------------
# NEAR tier (VERDICT r3 #4): band-key state + exact-Jaccard verify
# ---------------------------------------------------------------------------
_WORDS = [a + b for a in "abcdefgh" for b in "abcdefgh"]  # survive masking
_LONG = " ".join(_WORDS[:40])
_LONG_EDITED = _LONG + " zz"  # one appended token: shingle Jaccard 38/39
_LONG_EDITED2 = _LONG + " qq"

NEAR_WAVE1 = [
    ("http://n.example/1", TS, _LONG, "en"),
    # in-batch near pair: suffix-edited copy arriving in the same wave
    ("http://n.example/2", TS, _LONG_EDITED, "en"),
    ("http://n.example/3", TS, " ".join(_WORDS[40:64]), "en"),
]
NEAR_WAVE2 = [
    # cross-wave NEAR dup of wave-1 /1 (the VERDICT's done-criterion case)
    ("http://o.example/9", TS, _LONG_EDITED2, "en"),
    ("http://o.example/10", TS, " ".join(reversed(_WORDS[:30])), "en"),
]


def _drain_near(stream_df, catalog, cfg, ckpt):
    _drain(stream_df, catalog, cfg, ckpt, tiers=("exact", "near"))


def test_incremental_near_dedup_two_waves(spark, stream_env):
    from cargo_dupes_spark.streaming.incremental import (
        BANDS_TABLE,
        SIGS_TABLE,
        load_stream_near_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env

    _pages(spark, NEAR_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    near1 = {
        (r.url, r.matched_url): r.similarity
        for r in load_stream_near_dups(catalog).collect()
    }
    # in-batch near pair detected, matched to the smaller url
    assert set(near1) == {("http://n.example/2", "http://n.example/1")}
    assert near1[("http://n.example/2", "http://n.example/1")] >= cfg.jaccard_threshold
    # only canonical docs own band/sig state
    state_urls = {r.url for r in catalog.read(SIGS_TABLE).collect()}
    assert state_urls == {"http://n.example/1", "http://n.example/3"}
    assert {r.url for r in catalog.read(BANDS_TABLE).collect()} == state_urls

    _pages(spark, NEAR_WAVE2).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    near2 = {
        (r.url, r.matched_url)
        for r in load_stream_near_dups(catalog).collect()
    }
    # suffix-edited copy arriving in wave 2 matches wave 1's original
    assert near2 == set(near1) | {("http://o.example/9", "http://n.example/1")}
    state_urls2 = {r.url for r in catalog.read(SIGS_TABLE).collect()}
    assert state_urls2 == state_urls | {"http://o.example/10"}


def test_near_replayed_batch_is_noop(spark, stream_env, tmp_path):
    from cargo_dupes_spark.streaming.incremental import (
        BANDS_TABLE,
        load_stream_near_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, NEAR_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    near1 = {
        (r.url, r.matched_url)
        for r in load_stream_near_dups(catalog).collect()
    }
    bands1 = sorted(
        (r.url, r.band_key) for r in catalog.read(BANDS_TABLE).collect()
    )

    # replay: fresh checkpoint, same drops, same committed state
    _drain_near(
        read_web_pages_stream(spark, drop_dir), catalog, cfg,
        str(tmp_path / "ckpt_replay_near"),
    )
    near2 = {
        (r.url, r.matched_url)
        for r in load_stream_near_dups(catalog).collect()
    }
    bands2 = sorted(
        (r.url, r.band_key) for r in catalog.read(BANDS_TABLE).collect()
    )
    assert near2 == near1
    assert bands2 == bands1
    assert all(u != m for u, m in near2)


def test_legacy_flat_state_is_refused(
    spark, stream_env, monkeypatch, capsys, tmp_path
):
    """A warehouse written before the state was partitioned holds flat
    part-files (no fp_bucket column) in the stream_fps root. A stream start
    on it raises naming the layout before any batch runs (the CLI exits 2),
    and leaves the flat files as they were."""
    from cargo_dupes_spark import cli

    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    # forge the legacy layout in a fresh warehouse: same rows, flat files,
    # no fp_bucket column
    legacy_rows = load_stream_state(catalog).select(
        "url", "fingerprint", "n_tokens", "batch_id"
    )
    wh2 = tmp_path / "wh_legacy"
    catalog2 = Catalog(spark, str(wh2), cfg.config_hash())
    legacy_rows.coalesce(1).write.parquet(str(wh2 / "stream_fps"))
    root = wh2 / "stream_fps"
    flat = sorted(root.glob("*.parquet"))
    assert flat  # flat layout in place

    drops2 = tmp_path / "drops2"
    drops2.mkdir()
    _pages(spark, WAVE2).coalesce(1).write.mode("append").parquet(str(drops2))
    with pytest.raises(ValueError, match="flat part-files"):
        incremental_dedup(
            read_web_pages_stream(spark, str(drops2)), catalog2, cfg,
            str(tmp_path / "ckpt_legacy"),
        )
    monkeypatch.setattr(cli, "build_session", lambda **_: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    code = cli.main([
        "--warehouse", str(wh2), "stream", str(drops2),
        "--checkpoint", str(tmp_path / "ckpt_legacy_cli"),
    ])
    assert code == 2
    assert "flat part-files" in capsys.readouterr().err
    assert sorted(root.glob("*.parquet")) == flat
    assert not list(root.glob("fp_bucket=*"))


def test_near_state_recovers_after_partial_crash(spark, stream_env, tmp_path):
    """Crash bridge: a batch that committed EXACT state but crashed before
    the near tier's commits must, on replay, still populate band/shingle
    state for its canonical docs (they are in stream_fps under their own
    urls) — otherwise every future near-dup of those docs is silently
    missed. Simulated by draining exact-only first (exact state committed,
    near state absent), then replaying the same drops with the near tier
    on a fresh checkpoint."""
    from cargo_dupes_spark.streaming.incremental import (
        SIGS_TABLE,
        load_stream_near_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, NEAR_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    # "crashed" run: only the exact tier committed
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    assert not catalog.exists(SIGS_TABLE)

    # replay with the near tier enabled (fresh checkpoint = lost checkpoint)
    _drain_near(
        read_web_pages_stream(spark, drop_dir), catalog, cfg,
        str(tmp_path / "ckpt_bridge"),
    )
    state_urls = {r.url for r in catalog.read(SIGS_TABLE).collect()}
    assert state_urls == {"http://n.example/1", "http://n.example/3"}

    # and a later near-dup arrival is detected against the recovered state
    _pages(spark, NEAR_WAVE2).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(
        read_web_pages_stream(spark, drop_dir), catalog, cfg,
        str(tmp_path / "ckpt_bridge"),
    )
    near = {
        (r.url, r.matched_url)
        for r in load_stream_near_dups(catalog).collect()
    }
    assert ("http://o.example/9", "http://n.example/1") in near


def test_empty_gated_batch_does_not_brick_state(spark, stream_env):
    """A first batch whose docs are ALL gated out (tiny docs) must not leave
    schema-less table dirs that brick the next batch's state probe."""
    cfg, catalog, drop_dir, ckpt = stream_env
    tiny = [("http://t.example/1", TS, "too short", "en")]
    _pages(spark, tiny).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    # second batch with real docs must process cleanly
    _pages(spark, NEAR_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    state = {r.url for r in load_stream_state(catalog).collect()}
    assert "http://n.example/1" in state


# ---------------------------------------------------------------------------
# substring tier (VERDICT r4 #5): a drained doc containing (or contained in)
# a prior doc at >= min_substring_len chars is detected against winnow state
# ---------------------------------------------------------------------------
# distinct letter-only words (digits would mask to a repeating pattern under
# number masking, making a text contain its own reversal)
_BASE_TEXT = " ".join(
    f"{a}{b}ward" for a in "abcdefgh" for b in "klmnopqr"
)  # 64 distinct 6-char words, ~450 chars


SUB_WAVE1 = [
    ("http://s.example/1", TS, _BASE_TEXT, "en"),
    ("http://s.example/2", TS, " ".join(reversed(_BASE_TEXT.split())), "en"),
]
SUB_WAVE2 = [
    # contains wave-1 url /1's full text plus fresh prefix/suffix
    (
        "http://t.example/9",
        TS,
        "fresh preamble words " + _BASE_TEXT + " trailing addendum",
        "en",
    ),
    (
        "http://t.example/10",
        TS,
        # long enough to clear the min_substring_len eligibility gate
        "nothing shared with anything here at all "
        "separate vocabulary entirely distinct material unrelated prose",
        "en",
    ),
]


def _drain_substr(stream_df, catalog, cfg, ckpt):
    _drain(stream_df, catalog, cfg, ckpt, tiers=("exact", "substring"))


def test_incremental_substring_dedup_two_waves(spark, stream_env):
    from cargo_dupes_spark.functions.normalize import normalize_text_col
    from cargo_dupes_spark.streaming.incremental import (
        TEXTS_TABLE,
        WINNOW_TABLE,
        load_stream_substring_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env

    _pages(spark, SUB_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_substr(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    # wave 1: no containment (same tokens, different order -> no >=64-char
    # common run); both docs enter state
    assert load_stream_substring_dups(catalog).count() == 0
    state_urls = {r.url for r in catalog.read(TEXTS_TABLE).collect()}
    assert state_urls == {"http://s.example/1", "http://s.example/2"}
    assert {r.url for r in catalog.read(WINNOW_TABLE).collect()} == state_urls

    _pages(spark, SUB_WAVE2).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_substr(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    dups = {
        (r.url, r.matched_url): r
        for r in load_stream_substring_dups(catalog).collect()
    }
    assert set(dups) == {("http://t.example/9", "http://s.example/1")}
    row = dups[("http://t.example/9", "http://s.example/1")]
    # the contained side is the full wave-1 norm_text -> lcs == its length,
    # similarity == 1.0 (full containment)
    norm_len = len(
        spark.createDataFrame([(_BASE_TEXT,)], "text string")
        .select(normalize_text_col("text").alias("n"))
        .first()
        .n
    )
    assert row.lcs_len == norm_len
    assert row.similarity == 1.0
    # only canonical (non-dup) docs joined state
    state2 = {r.url for r in catalog.read(TEXTS_TABLE).collect()}
    assert state2 == state_urls | {"http://t.example/10"}


def test_substring_in_batch_detection(spark, stream_env):
    from cargo_dupes_spark.streaming.incremental import (
        load_stream_substring_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    both = SUB_WAVE1 + [
        ("http://s.example/3", TS, _BASE_TEXT + " extra suffix words", "en")
    ]
    _pages(spark, both).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_substr(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    dups = {
        (r.url, r.matched_url)
        for r in load_stream_substring_dups(catalog).collect()
    }
    # in-batch containment, matched to the smaller url
    assert dups == {("http://s.example/3", "http://s.example/1")}


def test_substring_replayed_batch_is_noop(spark, stream_env, tmp_path):
    from cargo_dupes_spark.streaming.incremental import (
        WINNOW_TABLE,
        load_stream_substring_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, SUB_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_substr(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    dups1 = {
        (r.url, r.matched_url)
        for r in load_stream_substring_dups(catalog).collect()
    }
    fps1 = sorted(
        (r.url, r.band_key) for r in catalog.read(WINNOW_TABLE).collect()
    )

    # replay: fresh checkpoint, same drops, same committed state
    _drain_substr(
        read_web_pages_stream(spark, drop_dir), catalog, cfg,
        str(tmp_path / "ckpt_replay_substr"),
    )
    dups2 = {
        (r.url, r.matched_url)
        for r in load_stream_substring_dups(catalog).collect()
    }
    fps2 = sorted(
        (r.url, r.band_key) for r in catalog.read(WINNOW_TABLE).collect()
    )
    assert dups2 == dups1
    assert fps2 == fps1
    assert all(u != m for u, m in dups2)


@pytest.mark.parametrize(
    "table, bucket, wave, tiers",
    [
        (STATE_TABLE, "fp_bucket", WAVE1, ("exact",)),
        (BANDS_TABLE, "band_bucket", NEAR_WAVE1, ("exact", "near")),
        (WINNOW_TABLE, "win_bucket", SUB_WAVE1, ("exact", "substring")),
    ],
    ids=[STATE_TABLE, BANDS_TABLE, WINNOW_TABLE],
)
def test_probe_prunes_partitions(spark, stream_env, table, bucket, wave, tiers):
    """Each state probe must read only the bucket partitions the batch can
    hit: the isin filter lands as a PartitionFilter on the parquet scan and
    the pruned read returns exactly the probed bucket's rows."""
    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, wave).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt,
           tiers=tiers)

    buckets = sorted({r[bucket] for r in catalog.read(table).collect()})
    assert len(buckets) >= 2  # so one bucket is a strict subset
    probe = pruned(catalog, table, buckets[:1])
    plan = probe._jdf.queryExecution().executedPlan().toString()
    parts = plan.split("PartitionFilters:", 1)
    assert len(parts) == 2 and bucket in parts[1][:300], plan
    assert {r[bucket] for r in probe.collect()} == set(buckets[:1])


@pytest.mark.parametrize(
    "tier, wave1, copy, metric",
    [
        ("near", NEAR_WAVE1, NEAR_WAVE2[0], "dropped_band_keys"),
        ("substring", SUB_WAVE1, SUB_WAVE2[0], "dropped_winnow_keys"),
    ],
    ids=["near", "substring"],
)
def test_hot_state_keys_are_dropped_and_accounted(
    spark, stream_env, tier, wave1, copy, metric
):
    """State keys owned by more than max_bucket_size urls leave the cross
    probe, and the drop is recorded in the catalog's metrics table. At
    max_bucket_size=0 every state key is hot, so wave 2's copy of a
    wave-1 doc finds no match."""
    import dataclasses

    from pyspark.sql import functions as F

    from cargo_dupes_spark.streaming.incremental import (
        load_stream_near_dups,
        load_stream_substring_dups,
    )

    load = {"near": load_stream_near_dups,
            "substring": load_stream_substring_dups}[tier]
    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, wave1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt,
           tiers=("exact", tier))
    assert catalog.read_metrics().filter(F.col("metric") == metric).count() == 0

    hot = dataclasses.replace(cfg, max_bucket_size=0)
    _pages(spark, [copy]).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, hot, ckpt,
           tiers=("exact", tier))
    assert load(catalog).filter(F.col("url") == copy[0]).count() == 0
    dropped = catalog.read_metrics().filter(F.col("metric") == metric)
    assert dropped.agg(F.sum("value")).first()[0] > 0


def test_one_row_per_url_per_batch(spark, stream_env):
    """A drop carrying one url twice with two texts keeps ONE row for it:
    the latest warc_ts wins, ties broken on content, so state stays one
    row per url (the contract pair generation and verify rely on)."""
    from cargo_dupes_spark.streaming.incremental import (
        SIGS_TABLE,
        _fingerprint_batch,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    url = "http://u.example/1"
    later = TS + dt.timedelta(minutes=1)
    rows = [
        (url, TS, _LONG, "en"),
        (url, later, " ".join(_WORDS[40:64]), "en"),
        (url, TS, " ".join(reversed(_WORDS[:30])), "en"),
    ]
    _pages(spark, rows).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt,
           tiers=("exact", "near"))
    state = load_stream_state(catalog).collect()
    assert [r.url for r in state] == [url]
    assert catalog.read(SIGS_TABLE).filter(f"url = '{url}'").count() == 1
    # the later arrival's text is the one kept
    want = _fingerprint_batch(_pages(spark, [rows[1]]), cfg).first()
    assert state[0].fingerprint == want.fingerprint
