"""Pipeline orchestration [O1/O2] — the `analyze()` stage graph.

Reference flow (``dupes-core/src/lib.rs:41-154``): read → parse → filter →
exact groups → near groups → sub-units → ignore filter → stats. Here each
stage commits its output through the Catalog (checkpoint = Iceberg snapshot
or parquet + meta sidecar) and a resumed run SKIPS stages whose output
already exists under the same config hash and detector set — the north_rule
"resumes mid-run" contract. Per-stage lineage and wall-clock metrics are
appended as they complete.

The eight stages: fingerprints → exact_memberships ∥ signatures →
candidate_pairs → verified_edges → clusters → memberships → stats. The
signatures stage runs on one representative per exact group (J1,
grouper.rs:100-108) and is the one payload table: it holds each active
detector's bucket keys and the column its verify reads.

Detector composition: the stages loop over the active ``lsh.DETECTORS``.
'minhash' and 'simhash' are interchangeable candidate generators for the
near tier (both verified by exact Jaccard); 'substring' is its own tier with
its own clustering (the reference keeps sub-unit groups separate from near
groups, lib.rs:89-118).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.connected_components import connected_components
from ..operators.exact import (
    apply_gates,
    exact_memberships,
    exact_representatives,
    prepare_columns,
)
from ..operators.groups import cluster_memberships, filter_ignored
from ..operators import lsh
from ..operators.stats import assemble_stats_row, stats_totals, tier_aggregates
from ..sources.catalog import Catalog
from ..sources.ignore import load_ignore

# lineage n_in: the stage whose committed n_out feeds each stage. Fixed, so
# n_in does not depend on the CC regime or on commit order; an upstream
# skipped on resume (or absent, for fingerprints) records NULL.
UPSTREAM = {
    "exact_memberships": "fingerprints",
    "signatures": "fingerprints",
    "candidate_pairs": "signatures",
    "verified_edges": "candidate_pairs",
    "clusters": "verified_edges",
    "memberships": "verified_edges",
    "stats": "memberships",
}


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig,
        catalog: Catalog | None = None,
        detectors: tuple[str, ...] = ("minhash", "substring"),
        resume: bool = False,
    ):
        unknown = set(detectors) - set(lsh.DETECTORS)
        if unknown:
            raise ValueError(f"unknown detectors: {sorted(unknown)}")
        if not detectors:
            raise ValueError(
                f"no detectors; choose from {sorted(lsh.DETECTORS)}"
            )
        self.spark = spark
        self.cfg = cfg
        self.catalog = catalog or Catalog(
            spark, cfg.warehouse, cfg.config_hash()
        )
        # one form per set (deduped, in table order) for the stage loops,
        # the sidecar and the resume check
        self.detectors = tuple(d for d in lsh.DETECTORS if d in detectors)
        self.resume = resume
        self.stage_log: list[str] = []  # executed vs skipped, for tests
        self.stage_rows: dict[str, int | None] = {}  # committed row counts

    # ------------------------------------------------------------------
    def _stage(self, name: str, build) -> DataFrame:
        """Run-or-resume one stage: skip if committed under this config and
        this detector set.

        Lineage contract (O6): per-partition n_out comes from the committed
        parquet footers (no extra job); failure totals (n_failed +
        error_sample) ride a write-time Observation over the stage's
        ``extract_error`` column when present — the reference's warning
        channel (lib.rs:50-66), computed INSIDE the write job so failure
        accounting costs zero additional Spark jobs. n_in is the committed
        row count of the stage's ``UPSTREAM`` stage.
        """
        if self.resume and self.catalog.is_complete(name, self.detectors):
            self.stage_log.append(f"skip:{name}")
            out = self.catalog.read(name)
            self.stage_rows[name] = None
            return out
        t0 = time.monotonic()
        # label the stage's jobs in the UI/REST metrics (guide §1.5);
        # thread-local, so concurrent stage commits stay labeled correctly
        self.spark.sparkContext.setJobDescription(f"stage:{name}")
        df = build()
        obs = None
        if "extract_error" in df.columns:
            obs = Observation()
            df = df.observe(
                obs,
                F.sum(
                    F.when(F.col("extract_error").isNotNull(), 1).otherwise(0)
                ).alias("n_failed"),
                F.max("extract_error").alias("error_sample"),
            )
        out = self.catalog.checkpoint(df, name, self.detectors)
        failed = obs.get if obs is not None else {}
        n_rows = self.catalog.record_lineage(
            out,
            name,
            n_in=self.stage_rows.get(UPSTREAM.get(name)),
            n_failed=failed.get("n_failed"),
            error_sample=failed.get("error_sample"),
        )
        self.catalog.record_metrics(
            name,
            {
                "rows": n_rows,
                "wall_seconds": time.monotonic() - t0,
            },
        )
        self.spark.sparkContext.setJobDescription(None)
        self.stage_log.append(f"run:{name}")
        self.stage_rows[name] = n_rows
        return out

    def _stages_concurrent(self, *specs) -> list[DataFrame]:
        """Run INDEPENDENT stages' jobs concurrently from driver threads
        (Spark's scheduler interleaves their tasks; concurrent job
        submission is a supported pattern). The stage DAG has genuine
        branches — exact_memberships and signatures both depend only on
        fingerprints — and running them serially adds one full stage of
        fixed commit latency to the critical path per branch: pure
        non-scaling cost at every cluster size. Resume, lineage and metrics
        are per-stage as ever."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(specs)) as ex:
            futs = [ex.submit(self._stage, name, build) for name, build in specs]
            return [f.result() for f in futs]

    def _fan_out_input(self, web_pages: DataFrame) -> DataFrame:
        """Parallelize an under-partitioned input before the fingerprints
        stage (guide §2.5: one huge unsplittable file -> repartition right
        after the read). The driver corpora arrive as a single one-row-group
        parquet file (or a lazy expansion of one), so the scan — and the
        whole normalize/fingerprint projection chained onto it — would run
        as ONE task at any core count. A well-partitioned input (the scaling
        protocol's 64-file synthetic corpus, any real multi-file table) is
        left untouched: the condition is partitions < cores, both taken
        from the session, so this is a no-op at cluster scale."""
        sc = self.spark.sparkContext
        try:
            cur = web_pages.rdd.getNumPartitions()
        except Exception:  # pragma: no cover - exotic plans; keep input as-is
            return web_pages
        if cur >= sc.defaultParallelism:
            return web_pages
        # hash on the unique url, not round-robin: keyless repartition
        # locally SORTS its input first (SPARK-23207 retry determinism),
        # which is pure serial cost inside the one upstream task this
        # helper exists to relieve; hashing a deterministic key is
        # retry-safe without the sort and spreads evenly (urls unique)
        if "url" in web_pages.columns:
            return web_pages.repartition(
                2 * sc.defaultParallelism, F.col("url")
            )
        return web_pages.repartition(2 * sc.defaultParallelism)

    # ------------------------------------------------------------------
    def run(self, web_pages: DataFrame) -> dict[str, DataFrame]:
        cfg = self.cfg
        web_pages = self._fan_out_input(web_pages)

        # checkpoint UNGATED columns, gate the materialized read: the gates
        # become parquet-scan predicates instead of forcing the normalize
        # chain to be re-evaluated per filter conjunct (see prepare_columns)
        fingerprints = apply_gates(
            self._stage("fingerprints", lambda: prepare_columns(web_pages, cfg)),
            cfg,
        )

        # the exact tier and the signatures are independent branches off
        # the fingerprints table — their stage commits run concurrently.
        # (J1 pre-exclusion: near/substring tiers operate on one
        # representative per distinct fingerprint, grouper.rs:100-108)
        exact, signatures = self._stages_concurrent(
            ("exact_memberships", lambda: exact_memberships(fingerprints)),
            (
                "signatures",
                lambda: lsh.signatures(
                    exact_representatives(fingerprints), cfg, self.detectors
                ),
            ),
        )

        active = [lsh.DETECTORS[d] for d in self.detectors]

        def build_candidates() -> DataFrame:
            # collect_flagged=True (eager PASS 1): the pipeline CONSUMES the
            # mega-bucket accounting, and the flagged rows come back as a
            # driver-side list — counting them costs no Spark job. Eager
            # beat lazy sizing in every interleaved A/B pair at 400k docs
            # (candidate stage 2.5-2.8 s vs 2.8-3.1 s). Callers that DISCARD
            # the accounting (the driver-oracle slice queries) keep
            # collect_flagged=False, which saves them a serial job.
            parts, flagged = [], []
            for d in active:
                pairs, f = lsh.pairs_from_buckets(
                    signatures, d.keys, cfg, d.label, collect_flagged=True
                )
                parts.append(pairs)
                flagged += f

            # never silent: salted and dropped mega-buckets are first-class
            # metrics (SURVEY §7.4 risk 4)
            counts = {"salted_buckets": 0.0, "dropped_buckets": 0.0}
            for row in flagged:
                counts[f"{row['action']}_buckets"] += 1.0
            self.catalog.record_metrics("candidates", counts)

            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        candidates = self._stage("candidate_pairs", build_candidates)

        # tiers with no active detector produce NO edges — running the CC
        # iteration loop and the membership joins over provably-empty frames
        # still costs real Spark jobs per tier (a measured fixed cost that
        # never scales with cores), so inactive tiers are skipped outright
        by_tier: dict[str, list[lsh.Detector]] = {}
        for d in active:
            by_tier.setdefault(d.tier, []).append(d)
        active_tiers = tuple(by_tier)

        def build_edges() -> DataFrame:
            parts = []
            for tier, ds in by_tier.items():
                cand = candidates.filter(
                    F.col("tier").isin(*[d.label for d in ds])
                )
                # a pair found by two detectors of a tier verifies once.
                # With a SINGLE detector the pairs are already distinct
                # (pairs_from_buckets dedups at the nid level), so the
                # cross-detector groupBy would be a pure extra shuffle of
                # the candidate set — skip it (guide §2.4). min() keeps
                # 'near' for a pair both find, exempting it from simhash's
                # Hamming prefilter.
                if len(ds) > 1:
                    cand = cand.groupBy("url_a", "url_b").agg(
                        F.min("tier").alias("tier")
                    )
                # every payload (shingles, simhash, norm_text) comes from
                # signatures. Substring edges carry span offsets (X3); near
                # edges get NULL spans via allowMissingColumns
                parts.append(
                    ds[0].verify(cand, signatures, cfg).withColumn(
                        "tier", F.lit(tier)
                    )
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p, allowMissingColumns=True)
            return out

        edges = self._stage("verified_edges", build_edges)

        def build_clusters() -> DataFrame:
            outs = []
            for tier in active_tiers:
                tier_edges = edges.filter(F.col("tier") == tier)
                outs.append(
                    connected_components(
                        tier_edges, id_bits=cfg.fingerprint_bits
                    ).withColumn("tier", F.lit(tier))
                )
            out = outs[0]
            for p in outs[1:]:
                out = out.unionByName(p)
            return out

        clusters = self._stage("clusters", build_clusters)

        def build_memberships() -> DataFrame:
            parts = [exact]
            for tier in active_tiers:
                tier_clusters = clusters.filter(F.col("tier") == tier).select(
                    "url", "cluster_id"
                )
                tier_edges = edges.filter(F.col("tier") == tier)
                parts.append(
                    cluster_memberships(
                        tier_clusters, tier_edges, fingerprints, tier
                    )
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return filter_ignored(
                out, load_ignore(self.catalog, bits=cfg.fingerprint_bits)
            )

        memberships = self._stage("memberships", build_memberships)

        stats = self._stage(
            "stats",
            lambda: assemble_stats_row(
                self.spark,
                stats_totals(fingerprints).collect()[0],
                tier_aggregates(fingerprints, memberships).collect(),
            ),
        )

        return {
            "fingerprints": fingerprints,
            "signatures": signatures,
            "candidate_pairs": candidates,
            "verified_edges": edges,
            "clusters": clusters,
            "exact_memberships": exact,
            "memberships": memberships,
            "stats": stats,
        }
