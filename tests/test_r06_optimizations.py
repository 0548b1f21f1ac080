"""Round-6 optimization pins: every rewrite in this round must be
output-identical to the shape it replaced. Each test compares the optimized
implementation against an inline reconstruction of the pre-optimization one
on data chosen to include the edge cases the rewrite could plausibly break
(NULL vs empty text, mask patterns, duplicate buckets, under-partitioned
input)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cargo_dupes_spark.config import PipelineConfig
from cargo_dupes_spark.functions import normalize as nm
from cargo_dupes_spark.operators import dedup
from cargo_dupes_spark.operators.lsh import nid_pairs_from_buckets


CFG = PipelineConfig()


def _old_normalize(col):
    """The pre-guard normalization chain (unconditional regex passes)."""
    c = F.lower(F.col(col))
    c = F.translate(c, nm._TRANSLATE_FROM, nm._TRANSLATE_TO)
    for pattern, repl in nm.NORM_STEPS:
        c = F.regexp_replace(c, pattern, repl)
    return F.trim(c)


ADVERSARIAL_TEXTS = [
    ("Visit HTTP://Example.COM/x?q=1 and http://a.b now",),
    ("mail Me@Foo.ORG or bob@sub.domain.co ok",),
    ("pi is 3.14 and the answer is 42",),
    ("“smart quotes” – en dash — em nbsp",),
    ("",),
    (None,),
    ("http:// bare prefix @ bare at 9",),
    ("a  b\t\nc   d",),
    ("no masks here at all plain words",),
    ("https://x.y z@w.co 1.2.3",),
]


def test_guarded_normalize_identical_to_unguarded(spark):
    df = spark.createDataFrame(ADVERSARIAL_TEXTS, "text string")
    diff = (
        df.select(
            _old_normalize("text").alias("a"),
            nm.normalize_text_col("text").alias("b"),
        )
        .filter("a is distinct from b")
        .count()
    )
    assert diff == 0


def test_guarded_normalize_identical_on_fixture_docs(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    diff = (
        docs.select(
            _old_normalize("text").alias("a"),
            nm.normalize_text_col("text").alias("b"),
        )
        .filter("a is distinct from b")
        .count()
    )
    assert diff == 0


def test_norm_group_keys_partition_like_norm_text(spark):
    # includes the NULL-vs-empty trap: xxhash64(NULL) == xxhash64('') in
    # Spark (null inputs are skipped), so the length column must separate
    rows = [
        (1, "alpha beta"),
        (2, "alpha beta"),
        (3, "alpha  beta"),
        (4, ""),
        (5, ""),
        (6, None),
        (7, None),
        (8, "gamma"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, norm_text string")
    by_text = {
        tuple(sorted(r["ids"]))
        for r in df.groupBy("norm_text")
        .agg(F.collect_list("doc_id").alias("ids"))
        .collect()
    }
    by_keys = {
        tuple(sorted(r["ids"]))
        for r in df.groupBy(*dedup._norm_group_keys())
        .agg(F.collect_list("doc_id").alias("ids"))
        .collect()
    }
    assert by_text == by_keys
    assert (1, 2) in by_keys  # equal texts group
    assert (4, 5) in by_keys and (6, 7) in by_keys  # '' and NULL separate


def test_bucket_dedup_pair_set_identical(spark):
    # buckets engineered so the same member set appears in many bands (the
    # dedup target), plus overlapping-but-distinct buckets and a singleton
    keys = {nid: [] for nid in (10, 11, 12, 13, 99)}
    for band in range(6):  # identical member set across 6 bands
        for nid in (10, 11, 12):
            keys[nid].append(1000 + band)
    for nid in (11, 12, 13):  # overlapping, distinct set
        keys[nid].append(2000)
    keys[99].append(3000)  # singleton bucket -> no pairs
    df = spark.createDataFrame(
        list(keys.items()), "nid long, band_keys array<bigint>"
    )
    cfg = PipelineConfig()
    with_dedup, _ = nid_pairs_from_buckets(
        df, "band_keys", cfg.max_bucket_size, cfg.salt_buckets,
        dedup_buckets=True,
    )
    without, _ = nid_pairs_from_buckets(
        df, "band_keys", cfg.max_bucket_size, cfg.salt_buckets,
        dedup_buckets=False,
    )
    a = {(r["nid_a"], r["nid_b"]) for r in with_dedup.collect()}
    b = {(r["nid_a"], r["nid_b"]) for r in without.collect()}
    assert a == b
    assert (10, 11) in a and (11, 13) in a and (99, 99) not in a


def test_single_sorted_matches_orderby(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").limit(200)
    base = docs.select("doc_id", F.length("text").alias("v"))
    got = dedup.single_sorted(base, "doc_id").collect()
    want = base.orderBy("doc_id").collect()
    assert got == want
    # and it is genuinely one sorted partition (no range exchange)
    assert dedup.single_sorted(base, "doc_id").rdd.getNumPartitions() == 1


def test_pipeline_fan_out_is_conditional(spark):
    from cargo_dupes_spark.plans.pipeline import Pipeline

    cfg = PipelineConfig()
    pipe = Pipeline.__new__(Pipeline)  # only _fan_out_input is exercised
    pipe.spark = spark
    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    wide = spark.range(1000).repartition(max(par, 2))
    assert pipe._fan_out_input(narrow).rdd.getNumPartitions() >= par
    # already-parallel input is left untouched (no extra exchange)
    assert pipe._fan_out_input(wide) is wide


def test_near_clusters_shortcut_matches_full_operator(spark):
    # 64-vs-128-bit regression: near_dup_clusters (BIGINT node ids) must
    # label identically to near_dup_clusters_wide (32-char hex node ids);
    # both run the same connected_components operator
    got = dedup.near_dup_clusters(spark, "/root/testdata/sf0.01").collect()
    want = dedup.near_dup_clusters_wide(spark, "/root/testdata/sf0.01").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_textstats_rewrites_identical(spark):
    # pre-rewrite formulations, reconstructed inline
    from cargo_dupes_spark.functions.textstats import (
        _TOKEN_PATTERN,
        quality_score_col,
        token_count_col,
        whitespace_token_count_col,
    )

    def old_quality(c):
        c = F.col(c)
        n = F.length(c)
        alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
        alpha_ratio = F.when(n > 0, alpha.cast("double") / n.cast("double")).otherwise(F.lit(0.0))
        words = F.size(F.split(F.trim(c), r"\s+"))
        mean_wlen = F.when(words > 0, n.cast("double") / words.cast("double")).otherwise(F.lit(0.0))
        len_score = F.least(n.cast("double") / F.lit(500.0), F.lit(1.0))
        wlen_score = F.when((mean_wlen >= 3.0) & (mean_wlen <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
        return F.round((len_score + alpha_ratio + wlen_score) / F.lit(3.0), 6)

    def old_token_count(c):
        return F.size(F.regexp_extract_all(F.col(c), F.lit(_TOKEN_PATTERN), F.lit(0)))

    def old_ws(c):
        c = F.col(c)
        return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
            F.size(F.split(F.trim(c), r"\s+"))
        )

    extra = [
        ("",), (None,), ("   ",), ("\tleading tab",), ("trailing tab\t",),
        ("a\t\t b\n\nc",), ("ALLCAPS lower 123 !?.",), ("ümlaut ñ β 漢字 9.5",),
    ]
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "text"
    ).unionByName(spark.createDataFrame(extra, "text string"))
    diff = (
        docs.select(
            old_quality("text").alias("qa"),
            quality_score_col("text").alias("qb"),
            old_token_count("text").alias("ta"),
            token_count_col("text").alias("tb"),
            old_ws("text").alias("wa"),
            whitespace_token_count_col("text").alias("wb"),
        )
        .filter(
            "qa is distinct from qb or ta is distinct from tb "
            "or wa is distinct from wb"
        )
        .count()
    )
    assert diff == 0


def test_pairs_from_buckets_distinct_without_url_dedup(spark):
    # the final dropDuplicates(url_a, url_b) was removed (a full extra
    # exchange of the pair set): with one-row-per-url input, url -> nid is
    # a function, so distinct nid pairs imply distinct url pairs. Engineer
    # heavy band collisions (same member set in many bands) + overlapping
    # buckets and assert the output carries no duplicate url pair.
    from cargo_dupes_spark.operators.lsh import pairs_from_buckets

    keys = {f"u{i}": [] for i in range(6)}
    for band in range(8):  # same member set collides in 8 bands
        for i in (0, 1, 2):
            keys[f"u{i}"].append(5000 + band)
    for i in (1, 2, 3):  # overlapping distinct bucket
        keys[f"u{i}"].append(9000)
    docs = spark.createDataFrame(
        list(keys.items()), "url string, band_keys array<bigint>"
    )
    pairs, _ = pairs_from_buckets(
        docs, "band_keys", CFG, "near", collect_flagged=False
    )
    got = [(r["url_a"], r["url_b"]) for r in pairs.collect()]
    assert len(got) == len(set(got))  # no duplicate url pairs
    assert set(got) == {
        ("u0", "u1"), ("u0", "u2"), ("u1", "u2"), ("u1", "u3"), ("u2", "u3")
    }
    assert all(a < b for a, b in got)  # canonical orientation


def test_memberships_carry_n_tokens_and_stats_skip_join(spark):
    # the pipeline memberships rows denormalize n_tokens; tier_aggregates
    # over such a frame must not re-join fingerprints (no url join in the
    # plan) and must produce the same aggregates as the join path
    from cargo_dupes_spark.operators.stats import tier_aggregates

    fps = spark.createDataFrame(
        [("u1", 10), ("u2", 20), ("u3", 30)], "url string, n_tokens int"
    )
    plain = spark.createDataFrame(
        [("u1", 1, "exact", 1.0), ("u2", 1, "exact", 1.0)],
        "url string, group_fp long, tier string, similarity double",
    )
    denorm = spark.createDataFrame(
        [("u1", 1, "exact", 1.0, 10), ("u2", 1, "exact", 1.0, 20)],
        "url string, group_fp long, tier string, similarity double, "
        "n_tokens int",
    )
    want = {tuple(r) for r in tier_aggregates(fps, plain).collect()}
    got = {tuple(r) for r in tier_aggregates(fps, denorm).collect()}
    assert got == want
    plan = tier_aggregates(fps, denorm)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan


def test_pipeline_flagged_accounting_still_recorded(spark, tmp_path):
    # the candidate stage counts the eager PASS-1 flagged rows inline —
    # mega-bucket counts must land in the catalog metrics by the time
    # run() returns
    from cargo_dupes_spark.plans.pipeline import Pipeline

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 12
    )
    rows = [
        (f"u{i}", base + " tail" + "x" * (i + 1), "en") for i in range(40)
    ]
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    cfg = PipelineConfig(
        warehouse=str(tmp_path / "wh"), max_bucket_size=4, salt_buckets=2
    )
    pipe = Pipeline(spark, cfg, detectors=("minhash",))
    out = pipe.run(df)
    out["memberships"].count()
    m = {
        r["metric"]: r["value"]
        for r in pipe.catalog.read_metrics()
        .filter("stage='candidates'")
        .collect()
    }
    # 40 near-identical docs vs cap 4 * salt 2: every minhash band bucket
    # is a dropped mega-bucket
    assert m["dropped_buckets"] > 0
