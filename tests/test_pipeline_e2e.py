"""End-to-end pipeline tests on the seeded fixture corpus — the analog of the
reference's CLI-vs-fixture integration tests (cargo-dupes/tests/report.rs).

The authoritative near-dup oracle is brute-force exact Jaccard over all
same-lang representative pairs (computed with the same normalize/shingle
code — mirroring the reference's hand-computed Dice expectations). Recall of
the LSH path against this oracle is the BASELINE.json >=0.99 gate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cargo_dupes_spark.config import PipelineConfig
from cargo_dupes_spark.functions.shingles import jaccard_col, with_shingles
from cargo_dupes_spark.operators.exact import exact_representatives, prepare
from cargo_dupes_spark.plans.pipeline import Pipeline
from cargo_dupes_spark.sources.web_pages import generate_web_pages


def _brute_force_near_pairs(fps, cfg):
    """Oracle: all same-lang rep pairs with exact Jaccard >= threshold."""
    sh = with_shingles(
        fps.select("url", "lang", "norm_text"),
        "norm_text",
        cfg.shingle_k,
        cfg.shingle_seed,
        out="sh",
    ).drop("norm_text")
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.url") < F.col("b.url"))
            & (F.col("a.lang") == F.col("b.lang")),
        )
        .select(
            F.col("a.url").alias("url_a"),
            F.col("b.url").alias("url_b"),
            jaccard_col(F.col("a.sh"), F.col("b.sh")).alias("j"),
        )
        .filter(F.col("j") >= cfg.jaccard_threshold)
    )


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("wh_e2e")
    cfg = PipelineConfig(warehouse=str(wh))
    df, corpus = generate_web_pages(spark, skew_rows=12)
    pipe = Pipeline(
        spark, cfg, detectors=("minhash", "simhash", "substring")
    )
    out = pipe.run(df)
    return cfg, df, corpus, out


def test_exact_groups_match_planted(pipeline_run):
    cfg, df, corpus, out = pipeline_run
    got_groups = (
        out["exact_memberships"]
        .groupBy("group_fp")
        .agg(F.sort_array(F.collect_list("url")).alias("members"))
        .collect()
    )
    got = {tuple(r.members) for r in got_groups}
    want = {tuple(sorted(urls)) for urls in corpus.exact_families.values()}
    # boilerplate docs are excluded by default, so planted exact families
    # are exactly the exact groups
    assert got == want


def test_near_recall_against_brute_force(spark, pipeline_run):
    """dup-pair recall >= 0.99 at identical shingle/signature config — the
    BASELINE.json gate, measured vs the exact-Jaccard oracle."""
    cfg, df, corpus, out = pipeline_run
    fps = prepare(df, cfg)
    reps = exact_representatives(fps)
    oracle = {
        (r.url_a, r.url_b)
        for r in _brute_force_near_pairs(reps, cfg).collect()
    }
    got = {
        (min(r.url_a, r.url_b), max(r.url_a, r.url_b))
        for r in out["verified_edges"].filter(F.col("tier") == "near").collect()
    }
    assert oracle, "oracle must find the planted near pairs"
    recall = len(got & oracle) / len(oracle)
    assert recall >= 0.99, f"recall {recall:.4f} < 0.99 ({len(oracle)} oracle pairs)"
    # and no false positives: every emitted edge is in the oracle (verify
    # is exact Jaccard, so the sets must match exactly)
    assert got <= oracle


def test_negative_controls_not_clustered(pipeline_run):
    cfg, df, corpus, out = pipeline_run
    near_urls = {
        r.url
        for r in out["memberships"].filter(F.col("tier") == "near").collect()
    }
    for fam, negs in corpus.near_negative.items():
        for url in negs:
            assert url not in near_urls, f"negative control clustered: {url}"


def test_cross_lang_never_pairs(pipeline_run):
    cfg, df, corpus, out = pipeline_run
    langs = {r.url: r.lang for r in df.select("url", "lang").collect()}
    for r in out["verified_edges"].collect():
        assert langs[r.url_a] == langs[r.url_b]


def test_boilerplate_excluded_by_default(pipeline_run):
    cfg, df, corpus, out = pipeline_run
    fp_urls = {r.url for r in out["fingerprints"].select("url").collect()}
    assert not fp_urls & set(corpus.boilerplate_urls)


def test_boilerplate_groups_when_included(spark, tmp_path):
    cfg = PipelineConfig(
        warehouse=str(tmp_path / "wh_bp"), exclude_boilerplate=False
    )
    df, corpus = generate_web_pages(spark)
    out = Pipeline(spark, cfg, detectors=("minhash",)).run(df)
    exact_urls = {r.url for r in out["exact_memberships"].collect()}
    # identical boilerplate pages group in the exact tier when included
    assert set(corpus.boilerplate_urls) <= exact_urls


def test_stats_consistency(pipeline_run):
    cfg, df, corpus, out = pipeline_run
    s = out["stats"].first().asDict()
    assert s["total_docs"] == out["fingerprints"].count()
    assert s["exact_docs"] == out["exact_memberships"].count()
    assert 0.0 <= s["exact_token_percent"] <= 100.0


def test_resume_skips_and_matches(spark, tmp_path):
    cfg = PipelineConfig(warehouse=str(tmp_path / "wh_resume"))
    df, _ = generate_web_pages(spark, n_unique=20, n_near_families=3)
    p1 = Pipeline(spark, cfg, detectors=("minhash",), resume=True)
    out1 = p1.run(df)
    n1 = out1["memberships"].count()
    p2 = Pipeline(spark, cfg, detectors=("minhash",), resume=True)
    out2 = p2.run(df)
    assert all(s.startswith("skip:") for s in p2.stage_log)
    assert out2["memberships"].count() == n1


def test_resume_from_moved_warehouse(spark, tmp_path):
    """The config hash leaves out IO paths: a committed warehouse copied to
    a new path resumes there with every stage skipped."""
    import shutil

    old = tmp_path / "wh_old"
    df, _ = generate_web_pages(spark, n_unique=20, n_near_families=3)
    Pipeline(spark, PipelineConfig(warehouse=str(old)), detectors=("minhash",)).run(df)
    new = tmp_path / "wh_new"
    shutil.copytree(old, new)
    p = Pipeline(
        spark,
        PipelineConfig(warehouse=str(new)),
        detectors=("minhash",),
        resume=True,
    )
    p.run(df)
    assert p.stage_log and all(s.startswith("skip:") for s in p.stage_log)


def _edges(out):
    return sorted(tuple(r) for r in out["verified_edges"].collect())


def test_resume_with_added_detector_recomputes(spark, tmp_path):
    """The detector set is not in the config hash, so each stage's sidecar
    records it: a minhash-only run resumed with minhash + substring must
    recompute, not return the old run's outputs."""
    df, _ = generate_web_pages(spark, n_unique=20, n_near_families=3)
    both = ("minhash", "substring")
    wh = str(tmp_path / "wh_det")
    Pipeline(spark, PipelineConfig(warehouse=wh), detectors=("minhash",)).run(df)
    p = Pipeline(spark, PipelineConfig(warehouse=wh), detectors=both, resume=True)
    resumed = p.run(df)
    assert "run:candidate_pairs" in p.stage_log
    fresh = Pipeline(
        spark, PipelineConfig(warehouse=str(tmp_path / "wh_fresh")), detectors=both
    ).run(df)
    want = _edges(fresh)
    assert any(e[2] == "substring" for e in want)
    assert _edges(resumed) == want


def test_lineage_and_metrics_written(spark, pipeline_run):
    cfg, df, corpus, out = pipeline_run

    # the pipeline's catalog wrote lineage/metrics parquet into the warehouse
    import glob

    assert glob.glob(f"{cfg.warehouse}/lineage/*.parquet")
    assert glob.glob(f"{cfg.warehouse}/metrics/*.parquet")

    lineage = spark.read.parquet(f"{cfg.warehouse}/lineage")
    # per-partition rows: n_out sums to the summary row's total per stage
    fp = lineage.filter(F.col("stage") == "fingerprints")
    summary = fp.filter(F.col("partition_id") == -1).collect()
    assert len(summary) == 1
    parts_total = (
        fp.filter(F.col("partition_id") >= 0).agg(F.sum("n_out")).collect()[0][0]
    )
    assert summary[0]["n_out"] == parts_total == df.count()
    assert summary[0]["n_failed"] == 0  # clean corpus


# lineage contract: each stage's n_in is this upstream stage's n_out
_LINEAGE_UPSTREAM = {
    "exact_memberships": "fingerprints",
    "representatives": "fingerprints",
    "signatures": "representatives",
    "candidate_pairs": "signatures",
    "verified_edges": "candidate_pairs",
    "clusters": "verified_edges",
    "memberships": "verified_edges",
    "stats": "memberships",
}


@pytest.fixture(scope="module")
def regime_runs(spark, tmp_path_factory):
    """One small pipeline run per CC regime: the driver union-find at the
    default threshold, and the distributed large/small-star loop forced by
    a zero threshold. Each regime maps to (lineage summary by stage, sorted
    rows of the clusters, memberships and stats tables)."""
    from cargo_dupes_spark.operators import connected_components as cc

    df, _ = generate_web_pages(spark, n_unique=20, n_near_families=3)
    runs = {}
    for regime, threshold in (
        ("driver", cc.DRIVER_CC_THRESHOLD),
        ("distributed", 0),
    ):
        wh = tmp_path_factory.mktemp(f"wh_lineage_{regime}")
        cfg = PipelineConfig(warehouse=str(wh))
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cc, "DRIVER_CC_THRESHOLD", threshold)
            out = Pipeline(spark, cfg, detectors=("minhash", "substring")).run(df)
        rows = {
            name: sorted(tuple(r) for r in out[name].collect())
            for name in ("clusters", "memberships", "stats")
        }
        summary = {
            r["stage"]: r
            for r in spark.read.parquet(f"{cfg.warehouse}/lineage")
            .filter(F.col("partition_id") == -1)
            .collect()
        }
        runs[regime] = (summary, rows)
    return runs


@pytest.mark.parametrize("regime", ["driver", "distributed"])
def test_lineage_n_in_is_upstream_n_out(regime_runs, regime):
    """n_in does not depend on the CC regime, and neither do the clusters,
    memberships and stats rows."""
    summary, rows = regime_runs[regime]
    assert set(summary) == {"fingerprints", *_LINEAGE_UPSTREAM}
    assert summary["fingerprints"]["n_in"] is None
    for stage, upstream in _LINEAGE_UPSTREAM.items():
        assert summary[stage]["n_in"] == summary[upstream]["n_out"], stage
    assert rows == regime_runs["driver"][1]


def test_corrupt_html_counted_in_lineage(spark, tmp_path):
    """The reference never drops a file silently (warning channel,
    lib.rs:50-66): a corrupt html row is extracted best-effort AND counted
    with an error sample in the fingerprints stage's lineage summary."""
    cfg = PipelineConfig(warehouse=str(tmp_path / "wh_corrupt"))
    df, _ = generate_web_pages(spark, n_unique=20, n_near_families=2)
    corrupt = spark.createDataFrame(
        [("http://bad.example/x", None, b"<p>broken \xff\xfe bytes</p>", None, "en")],
        df.schema,
    )
    out = Pipeline(spark, cfg, detectors=("minhash",)).run(
        df.unionByName(corrupt)
    )
    summary = (
        spark.read.parquet(f"{cfg.warehouse}/lineage")
        .filter((F.col("stage") == "fingerprints") & (F.col("partition_id") == -1))
        .collect()[0]
    )
    assert summary["n_failed"] == 1
    assert "utf8 decode" in summary["error_sample"]
    # the row itself was NOT dropped by extraction (it's in the stage output)
    fps = spark.read.parquet(f"{cfg.warehouse}/fingerprints")
    row = fps.filter(F.col("url") == "http://bad.example/x").collect()
    assert len(row) == 1 and "utf8 decode" in row[0]["extract_error"]


def test_wide_fingerprints_same_grouping(spark, tmp_path, pipeline_run):
    """fingerprint_bits=128 (the 10^12-doc upgrade path): identical group
    STRUCTURE to the 64-bit run on the fixture corpus — same member url
    sets per tier — with every fp-typed column widened to 32-char hex
    strings (exact group_fp, composite group_fp, CC cluster labels), and
    the 128-bit ignore list round-trips through the same anti-join."""
    cfg64, _, corpus, out64 = pipeline_run
    cfg = PipelineConfig(warehouse=str(tmp_path / "wh128"), fingerprint_bits=128)
    df, _ = generate_web_pages(spark, skew_rows=12)
    out = Pipeline(
        spark, cfg, detectors=("minhash", "simhash", "substring")
    ).run(df)

    def members_by_tier(memberships):
        rows = memberships.select("url", "tier", "group_fp").collect()
        out: dict[str, dict] = {}
        for r in rows:
            out.setdefault(r.tier, {}).setdefault(r.group_fp, set()).add(r.url)
        # group ids differ across widths; compare the SET of member-sets
        return {
            t: {frozenset(v) for v in groups.values()}
            for t, groups in out.items()
        }

    assert members_by_tier(out["memberships"]) == members_by_tier(
        out64["memberships"]
    )
    assert dict(out["memberships"].dtypes)["group_fp"] == "string"
    assert dict(out["fingerprints"].dtypes)["fingerprint"] == "string"
    fp = out["memberships"].first().group_fp
    assert len(fp) == 32 and int(fp, 16) >= 0

    # 128-bit ignore round-trip: ignoring one group's hex fp drops exactly
    # that group's members through the broadcast anti-join
    from cargo_dupes_spark.operators.groups import filter_ignored
    from cargo_dupes_spark.sources.catalog import Catalog
    from cargo_dupes_spark.sources.ignore import add_ignore, load_ignore

    catalog = Catalog(spark, cfg.warehouse, cfg.config_hash())
    before = out["memberships"].count()
    in_group = out["memberships"].filter(F.col("group_fp") == fp).count()
    assert add_ignore(catalog, fp, "planted 128-bit ignore")
    filtered = filter_ignored(
        out["memberships"], load_ignore(catalog, bits=128)
    )
    assert filtered.count() == before - in_group
    assert filtered.filter(F.col("group_fp") == fp).count() == 0


def test_repeated_and_permuted_detectors_are_one_run(spark, tmp_path):
    """A detector tuple is deduped and put in table order once: a repeated
    name runs its detector once, and a permuted tuple resumes a run of the
    same set with all 9 stages skipped."""
    df, _ = generate_web_pages(spark, n_unique=20, n_near_families=3)
    both = ("minhash", "substring")
    wh = str(tmp_path / "wh_once")
    single = Pipeline(spark, PipelineConfig(warehouse=wh), detectors=both).run(df)
    repeated = Pipeline(
        spark,
        PipelineConfig(warehouse=str(tmp_path / "wh_twice")),
        detectors=("minhash", "minhash", "substring", "substring"),
    ).run(df)

    def cands(out):
        return sorted(tuple(r) for r in out["candidate_pairs"].collect())

    assert cands(single)
    assert cands(repeated) == cands(single)
    p = Pipeline(
        spark,
        PipelineConfig(warehouse=wh),
        detectors=("substring", "minhash"),
        resume=True,
    )
    p.run(df)
    assert len(p.stage_log) == 9
    assert all(s.startswith("skip:") for s in p.stage_log)


def test_detectors_compose(spark, tmp_path, pipeline_run):
    """The all-three run's verified edges are the single-detector runs'
    edges combined, tier by tier, with the same similarity: the near tier
    is minhash's edges united with simhash's, the substring tier is
    substring's alone. No detector changes another's output."""
    _, df, _, out = pipeline_run

    def tier_edges(edges, tier):
        cols = ["url_a", "url_b", "similarity"]
        if tier == "substring":  # its edges carry span offsets (X3)
            cols += [c for c in edges.columns if c.startswith("span_")]
        rows = edges.filter(F.col("tier") == tier).select(*cols).collect()
        assert len(rows) == len(set(rows))
        return set(rows)

    single = {
        d: Pipeline(
            spark, PipelineConfig(warehouse=str(tmp_path / d)), detectors=(d,)
        ).run(df)["verified_edges"]
        for d in ("minhash", "simhash", "substring")
    }
    near = tier_edges(single["minhash"], "near") | tier_edges(
        single["simhash"], "near"
    )
    assert near and tier_edges(out["verified_edges"], "near") == near
    substring = tier_edges(single["substring"], "substring")
    assert substring
    assert tier_edges(out["verified_edges"], "substring") == substring
    assert tier_edges(single["substring"], "near") == set()
    assert tier_edges(single["minhash"], "substring") == set()


@pytest.mark.parametrize(
    "case, columns",
    [
        ("minhash", ["url", "lang", "shingles", "band_keys"]),
        ("simhash", ["url", "lang", "shingles", "simhash", "chunk_keys"]),
        ("substring", ["url", "lang", "winnow_keys"]),
        (
            "all",
            [
                "url", "lang", "shingles", "simhash",
                "band_keys", "chunk_keys", "winnow_keys",
            ],
        ),
        ("stream_near", ["url", "lang", "shingles", "band_keys"]),
        ("stream_substring", ["url", "lang", "norm_text", "winnow_keys"]),
    ],
    ids=[
        "minhash", "simhash", "substring", "all", "stream_near",
        "stream_substring",
    ],
)
def test_signature_columns(spark, tmp_path, monkeypatch, case, columns):
    """The sketch builder's columns, by name and order, as each caller gets
    them: the pipeline's committed signatures table (resume and the
    candidate stage read it by column name), which holds only what the
    run's detectors read, and each streaming tier's probe input."""
    from cargo_dupes_spark.operators.lsh import ALL_DETECTORS

    df, _ = generate_web_pages(spark, n_unique=20, n_near_families=3)
    cfg = PipelineConfig(warehouse=str(tmp_path / "wh_sigs"))
    if case.startswith("stream_"):
        from cargo_dupes_spark.streaming import incremental

        seen = {}
        monkeypatch.setattr(
            incremental, "_probe_state",
            lambda tier, docs, *a: seen.setdefault("docs", docs),
        )
        tier = incremental._TIERS[case.removeprefix("stream_")]
        incremental._process_tier(tier, prepare(df, cfg), None, cfg, 0)
        got = seen["docs"]
    else:
        detectors = ALL_DETECTORS if case == "all" else (case,)
        got = Pipeline(spark, cfg, detectors=detectors).run(df)["signatures"]
    assert got.columns == columns
    assert got.count() > 0
