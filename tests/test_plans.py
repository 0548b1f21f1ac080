"""Physical-plan shape assertions — the scale contract, pinned.

The correctness suite proves the operators compute the right rows; these
tests pin the properties that make them survive a 100x scale-up (SURVEY §4):
gates must reach the parquet scan as pushed filters, the ignore anti-join
must broadcast its tiny side, the candidate stage must scan only the 8-byte
band keys (never the KB-scale minhash/shingle payloads), and no composed
dedup plan may degrade to a cartesian/nested-loop join. Plan regressions
that keep answers right but shapes wrong fail HERE, not at 100 TB.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from cargo_dupes_spark.operators.exact import apply_gates, prepare_columns
from cargo_dupes_spark.functions.fingerprint import composite_fingerprint_col
from cargo_dupes_spark.operators.groups import cluster_memberships, filter_ignored
from cargo_dupes_spark.operators.lsh import pairs_from_buckets
from cargo_dupes_spark.operators.verify import verify_pairs


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_gates_push_into_parquet_scan(spark, tmp_path, tmp_cfg, fixture_corpus):
    """apply_gates over the materialized fingerprints checkpoint must land
    in the scan's PushedFilters (the pipeline's gate-after-checkpoint
    design, operators/exact.py:35-46) — not as a post-scan Filter only."""
    df, _ = fixture_corpus
    path = str(tmp_path / "fps")
    prepare_columns(df, tmp_cfg).write.mode("overwrite").parquet(path)
    gated = apply_gates(spark.read.parquet(path), tmp_cfg)
    plan = _plan(gated)
    pushed = plan.split("PushedFilters:", 1)
    assert len(pushed) == 2, plan
    head = pushed[1][:400]
    assert "n_tokens" in head and "GreaterThanOrEqual" in head, head
    assert gated.count() > 0


def test_candidate_band_scan_prunes_heavy_columns(spark, tmp_path, tmp_cfg):
    """pairs_from_buckets over a parquet signatures table must never read
    the 1 KB minhash or the shingle arrays: every scan's ReadSchema holds
    only (url, band_keys) or a subset (the candidate stage scans this table
    for bucket sizing, pair expansion and the url map, so an unpruned scan
    multiplies its IO)."""
    rows = [
        ("u%d" % i, list(range(i, i + 8)), [i] * 4, i * 7, [i, i + 1])
        for i in range(20)
    ]
    spark.createDataFrame(
        rows, "url string, shingles array<bigint>, minhash array<bigint>, "
        "simhash bigint, band_keys array<bigint>"
    ).write.mode("overwrite").parquet(str(tmp_path / "sigs"))
    pairs, _ = pairs_from_buckets(
        spark.read.parquet(str(tmp_path / "sigs")), "band_keys", tmp_cfg,
        "near", collect_flagged=False,
    )
    plan = _plan(pairs)
    heads = [p.splitlines()[0] for p in plan.split("ReadSchema:")[1:]]
    assert heads, plan
    assert any("band_keys" in h for h in heads), heads
    assert any("url" in h for h in heads), heads
    for head in heads:
        assert "minhash" not in head and "shingles" not in head, head


def test_ignore_anti_join_broadcasts(spark):
    """filter_ignored must be a broadcast LEFT ANTI join — the big
    memberships side must not shuffle for a tiny ignore list
    (operators/groups.py:94-110)."""
    memberships = spark.range(0, 1000).select(
        (F.col("id") % 37).alias("group_fp"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
    )
    ignore = spark.createDataFrame(
        [(3, "known"), (11, "known")], "fingerprint bigint, reason string"
    )
    out = filter_ignored(memberships, ignore)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert out.count() < 1000


def test_memberships_one_pass_per_cluster(spark):
    """cluster_memberships computes each cluster's composite and min
    similarity once: two joins onto the member rows (fingerprints, per-url
    min edge similarity), one groupBy on cluster_id, no join back and no
    window (a window evaluates the composite once per member row, O(n²) for
    an n-member cluster)."""
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")],
        "url string, cluster_id string",
    )
    fps = spark.createDataFrame(
        [(u, i, 10 * i) for i, u in enumerate("abcxy", 1)],
        "url string, fingerprint bigint, n_tokens bigint",
    )
    edges = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.8), ("x", "y", 0.95)],
        "url_a string, url_b string, similarity double",
    )
    out = cluster_memberships(clusters, edges, fps, "near")
    plan = _plan(out)
    assert "Window" not in plan, plan
    joins = re.findall(
        r"\b(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\b", plan
    )
    assert len(joins) == 2, plan
    want_fp = {
        r.cluster_id: r.c
        for r in clusters.join(fps, "url")
        .groupBy("cluster_id")
        .agg(composite_fingerprint_col("fingerprint").alias("c"))
        .collect()
    }
    got = {r.url: tuple(r)[1:] for r in out.collect()}
    assert got == {
        "a": (want_fp["a"], "near", 0.8, 10),
        "b": (want_fp["a"], "near", 0.8, 20),
        "c": (want_fp["a"], "near", 0.8, 30),
        "x": (want_fp["x"], "near", 0.95, 40),
        "y": (want_fp["x"], "near", 0.95, 50),
    }


def test_candidate_verify_plan_has_no_cartesian(spark, tmp_cfg):
    """The composed candidate→verify plan (the near tier's whole join
    topology) must contain no CartesianProduct / BroadcastNestedLoopJoin —
    every join is an equi-join by construction (lsh.py, verify.py)."""
    docs = [("u%d" % i, list(range(i % 5, i % 5 + 10))) for i in range(30)]
    sigs = spark.createDataFrame(
        docs, "url string, shingles array<bigint>"
    ).withColumn("simhash", F.lit(0))
    pairs, _ = pairs_from_buckets(
        sigs, F.array(F.xxhash64(F.col("shingles")[0])), tmp_cfg, "near"
    )
    verified = verify_pairs(pairs, sigs, tmp_cfg)
    for plan in (_plan(pairs), _plan(verified)):
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
    # and the plan actually executes: same-bucket docs verify as dups
    assert verified.count() > 0


def _verify_case(spark, cfg, name):
    """(verify call, expected output pairs) for one pair-verify path."""
    from cargo_dupes_spark.operators.similarity import _pair_vectors
    from cargo_dupes_spark.operators.substring import verify_substring_pairs

    if name == "_pair_vectors":
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3)], "nid_a bigint, nid_b bigint"
        )
        emb = spark.createDataFrame(
            [(i, [float(i)] * 4) for i in range(1, 4)],
            "vec_id bigint, embedding array<double>",
        )
        out = _pair_vectors(pairs, emb)
        return out, {(1, 2), (1, 3)}
    if name == "verify_substring_pairs":
        pairs = spark.createDataFrame(
            [("u1", "u2", "substring")],
            "url_a string, url_b string, tier string",
        )
        text_a = "the quick brown fox jumps over the lazy dog " * 4
        fps = spark.createDataFrame(
            # u2 is a 100-char contiguous substring of u1 (> min_substring_len)
            [("u1", text_a), ("u2", "zz " + text_a[10:110] + " yy")],
            "url string, norm_text string",
        )
        return verify_substring_pairs(pairs, fps, cfg), {("u1", "u2")}
    pairs = spark.createDataFrame(
        [("u1", "u2", "near"), ("u1", "u3", "near")],
        "url_a string, url_b string, tier string",
    )
    sigs = spark.createDataFrame(
        [("u%d" % i, list(range(10)), 0) for i in range(1, 4)],
        "url string, shingles array<bigint>, simhash bigint",
    )
    if name == "verify_pairs_no_simhash":  # the streaming near tier's sigs
        sigs = sigs.drop("simhash")
    return verify_pairs(pairs, sigs, cfg), {("u1", "u2"), ("u1", "u3")}


@pytest.mark.parametrize(
    "name",
    [
        "verify_pairs",
        "verify_pairs_no_simhash",
        "verify_substring_pairs",
        "_pair_vectors",
    ],
)
def test_pair_verify_joins_payload_once(spark, tmp_cfg, name):
    """Every pair-verify path must move its payload (shingle arrays,
    norm_text, vectors) through exactly ONE join — reassemble_pairs'
    explode -> one inner join -> groupBy shape. The former two-aliased-join
    shape scanned the payload table twice and moved its bytes through two
    exchanges — the measured cause of verified_edges scaling 1.4-1.9x
    instead of ~3x (BASELINE.md round 4). A regression back to per-side
    joins fails here."""
    out, want = _verify_case(spark, tmp_cfg, name)
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoopJoin" not in plan, plan
    # exactly one equi-join node in the whole subplan (each physical
    # operator appears once in executedPlan().toString())
    join_nodes = re.findall(
        r"\b(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\b", plan
    )
    assert len(join_nodes) == 1, plan
    assert {(r[0], r[1]) for r in out.collect()} == want


@pytest.mark.parametrize("key_type", ["string", "bigint"])
def test_reassemble_pairs(spark, key_type):
    """One row per pair with both sides' payload columns; pass-through
    columns survive; a pair with a side missing from the payload drops."""
    from cargo_dupes_spark.operators.verify import reassemble_pairs

    def k(i):
        return f"k{i}" if key_type == "string" else i

    pairs = spark.createDataFrame(
        [(k(1), k(2), "near"), (k(1), k(3), "simhash"), (k(2), k(9), "near")],
        f"id_a {key_type}, id_b {key_type}, tier string",
    )
    payload = spark.createDataFrame(
        [(k(i), i * 10, f"t{i}") for i in (1, 2, 3)],
        f"id {key_type}, x int, t string",
    )
    out = reassemble_pairs(pairs, payload, "id", ["x", "t"])
    assert out.columns == [
        "id_a", "id_b", "tier", "x_a", "x_b", "t_a", "t_b"
    ]
    assert sorted(tuple(r) for r in out.collect()) == [
        (k(1), k(2), "near", 10, 20, "t1", "t2"),
        (k(1), k(3), "simhash", 10, 30, "t1", "t3"),
    ]
