"""The benchmark's workloads: inputs, the timed operation, and its checks.

A run's figures are the median wall over the operations of its timed window.
Each workload's ``warm_up`` runs first, untimed, and counts in set-up.

``pipeline_bulk``
    One ``plans.pipeline.Pipeline.run`` with detectors ``("minhash",)`` over
    the materialized web-pages corpus, timed from the ``run`` call until
    memberships are counted and stats collected. The warm-up only starts
    the Python workers, each importing the program's ``functions``: at
    local[4] that start-up was a quarter of a cold run and a large part of
    its run-to-run spread. A warm-up pipeline run would cost 40-60 s on a
    4-core host, which the benchmark's time budget does not allow, so the
    timed run still pays Spark's own first-use cost.
``query_suite``
    Passes over seven headline ``__spark_entry__`` queries, one client,
    closed loop. Two untimed, checked passes warm the session up. The
    first pays code generation, JIT and Python worker start-up, three
    quarters of a cold pass and most of its run-to-run spread; the next
    pass is still 20-25% slower than the one after it, as JIT settles. Each
    query's output is collected and, after the pass, compared with the
    DuckDB ``oracle_sql()`` result, which is computed while the session
    starts.

With tracing on, one operation after the warm-up runs instrumented and
``traced()`` folds its spans and Spark job metrics into per-layer rows.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

import inputs
from kernels import kernel_table
from tracing import Spans, StatusStore, TracingCatalog, fold_jobs, self_time, union_length

PIPELINE_BASE_DOCS = 5_000
PIPELINE_STAGES = (
    "fingerprints",
    "exact_memberships",
    "representatives",
    "signatures",
    "candidate_pairs",
    "verified_edges",
    "clusters",
    "memberships",
    "stats",
)
QUERY_DOCS = 300
QUERY_VECS = 500
# Seven of the 13 bench.HEADLINE queries. A cold pass over all 13 took
# 51-84 s on a 4-core host, which with the pipeline runs overran the time
# budget of a full measurement. Left out are the costliest cold queries
# (minhash_near_pairs, near_dup_clusters, simhash_hamming_pairs,
# substring_containment_pairs, embedding_near_dups) and events_topk, which
# calls no cargo_dupes_spark code.
QUERIES = (
    "exact_dup_groups",
    "dedup_stats",
    "token_counts",
    "lang_id",
    "quality_scores",
    "doc_segments",
    "topk_cosine",
)
RECALL_FLOOR = 0.99
SETUP_REPEATS = 3  # input materializations per run; set-up reports their median
KERNEL_DOCS = 1_000
KERNEL_PAIRS = 200


@dataclass
class Outcome:
    """Operations attempted and failed (raised, or produced a wrong answer)."""

    attempted: int = 0
    failed: int = 0

    def record(self, problems: list[str], what: str) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"perfbench: {what} failed: {'; '.join(problems)}", file=sys.stderr)


@dataclass
class Timed:
    wall_s: float  # the operation's wall time
    start: float  # epoch seconds at the operation's start


def _guarded(outcome: Outcome, what: str, fn):
    """Run one operation; an exception counts as a failed operation."""
    try:
        return fn()
    except Exception:  # one failed operation must not end the run
        traceback.print_exc()
        outcome.record(["raised"], what)
        return None


def _materialize(write) -> tuple[object, float]:
    """Write the inputs SETUP_REPEATS times; return the last and the median time."""
    times, result = [], None
    for _ in range(SETUP_REPEATS):
        t0 = time.monotonic()
        result = write()
        times.append(time.monotonic() - t0)
    return result, statistics.median(times)


def _layer_totals(spans: Spans, store: StatusStore, j0: int, timed: Timed):
    """Spark jobs of the operation and the per-layer figures every workload reports."""
    end = timed.start + timed.wall_s
    # the status store stamps completion from its listener thread, so a job
    # may read as ending just after the operation returned
    jobs = [
        j for j in store.jobs_after(j0)
        if timed.start - 0.05 <= j.start <= end and j.end <= end + 0.5
    ]
    busy = union_length([(max(j.start, timed.start), min(j.end, end)) for j in jobs])
    return jobs, {
        "trace.wall_s": timed.wall_s,
        "trace.overhead_s": spans.overhead_s,
        "spark": fold_jobs(jobs),
        "op.jobs_s": busy,
        "op.self_s": timed.wall_s - busy,
    }


# ---------------------------------------------------------------------------
# pipeline_bulk
# ---------------------------------------------------------------------------
class PipelineBulk:
    detectors = ("minhash",)

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.outcome = Outcome()

    def make_inputs(self) -> float:
        corpus_dir = os.path.join(self.work, "corpus")

        def write():
            shutil.rmtree(corpus_dir, ignore_errors=True)
            return inputs.write_web_pages(corpus_dir, PIPELINE_BASE_DOCS, self.seed)

        self.corpus, corpus_s = _materialize(write)
        return corpus_s

    @property
    def docs(self) -> int:
        return self.corpus.n_docs

    def warm_up(self, spark) -> None:
        def start(batches):
            import cargo_dupes_spark.functions  # noqa: F401

            yield from batches

        spark.read.parquet(self.corpus.path).select("url").mapInPandas(
            start, "url string"
        ).count()

    def run(self, spark, spans: Spans | None = None) -> Timed | None:
        self.spark, self.spans = spark, spans
        return _guarded(self.outcome, "pipeline run", self._run)

    def _run(self) -> Timed:
        from cargo_dupes_spark.config import PipelineConfig
        from cargo_dupes_spark.plans.pipeline import Pipeline
        from cargo_dupes_spark.sources.catalog import Catalog

        # a fresh warehouse per operation, so no run resumes from an earlier one
        warehouse = os.path.join(self.work, f"warehouse{self.outcome.attempted}")
        cfg = PipelineConfig(warehouse=warehouse, checkpoint_dir=os.path.join(warehouse, "ckpt"))
        if self.spans is None:
            catalog = Catalog(self.spark, cfg.warehouse, cfg.config_hash())
        else:
            catalog = TracingCatalog(
                self.spark, cfg.warehouse, cfg.config_hash(), spans=self.spans
            )
        web_pages = self.spark.read.parquet(self.corpus.path)
        t0, epoch0 = time.monotonic(), time.time()
        self.pipe = Pipeline(self.spark, cfg, catalog=catalog, detectors=self.detectors)
        self.out = self.pipe.run(web_pages)
        self.out["memberships"].count()
        stats = self.out["stats"].collect()[0]
        wall = time.monotonic() - t0
        self.outcome.record(self._check(stats), "pipeline run")
        return Timed(wall, epoch0)

    def _check(self, stats) -> list[str]:
        """Planted pairs recalled, and exact counts equal to the generator's."""
        corpus = self.corpus
        members = self.out["memberships"].select("url", "group_fp", "tier").toPandas()
        parent: dict[str, str] = {}

        def find(u: str) -> str:
            while parent.setdefault(u, u) != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        for _, urls in members.groupby(["tier", "group_fp"])["url"]:
            urls = list(urls)
            for u in urls[1:]:
                parent[find(u)] = find(urls[0])
        exact = members[members["tier"] == "exact"].set_index("url")["group_fp"].to_dict()
        exact_recall = statistics.fmean(
            a in exact and exact.get(a) == exact.get(b) for a, b in corpus.exact_pairs
        )
        near_recall = statistics.fmean(
            a in parent and b in parent and find(a) == find(b) for a, b in corpus.near_pairs
        )
        n_exact = len(corpus.exact_pairs)
        problems = []
        if exact_recall < RECALL_FLOOR:
            problems.append(f"exact recall {exact_recall:.4f}")
        if near_recall < RECALL_FLOOR:
            problems.append(f"near recall {near_recall:.4f}")
        if stats["total_docs"] != corpus.n_docs:
            problems.append(f"total_docs {stats['total_docs']} != {corpus.n_docs}")
        if stats["exact_groups"] != n_exact:
            problems.append(f"exact_groups {stats['exact_groups']} != {n_exact}")
        if stats["exact_docs"] != 2 * n_exact:
            problems.append(f"exact_docs {stats['exact_docs']} != {2 * n_exact}")
        return problems

    def traced(self, spans: Spans, store: StatusStore, j0: int, timed: Timed) -> dict:
        jobs, layers = _layer_totals(spans, store, j0, timed)
        catalog, pipe = self.pipe.catalog, self.pipe
        stage_iv = {}
        for s in spans.named("catalog.record_metrics"):
            # Pipeline._stage measures wall_seconds just before recording it
            wall_s = catalog.recorded.get(s.key, {}).get("wall_seconds")
            if s.key in PIPELINE_STAGES and wall_s is not None:
                stage_iv[s.key] = (s.start - wall_s, s.start)
        rows = {}
        for stage in PIPELINE_STAGES:
            mine = [
                j for j in jobs
                if j.description == f"stage:{stage}" or j.description.startswith(f"stage:{stage} ")
            ]
            start, end = stage_iv.get(stage, (timed.start, timed.start))
            folded = fold_jobs(mine)
            rows[stage] = {
                "wall_s": end - start,
                "self_s": self_time((start, end), [(j.start, j.end) for j in mine]),
                "write_s": sum(x.dur for x in spans.named("catalog.write") if x.key == stage),
                "cpu_s": folded["cpu_s"],
                "shuffle_mb": folded["shuffle_mb"],
                "spill_mb": folded["spill_mb"],
                "jobs": folded["jobs"],
                "max_task_share": folded["max_task_share"],
            }

        clusters = self.out["clusters"].groupBy("cluster_id").count().toPandas()
        flagged = catalog.recorded.get("candidates", {})
        n_cand = pipe.stage_rows.get("candidate_pairs") or 0
        n_edges = pipe.stage_rows.get("verified_edges") or 0
        texts = self.corpus.texts[:KERNEL_DOCS]
        return {
            **layers,
            "op.max_step_share": max(r["wall_s"] for r in rows.values()) / timed.wall_s,
            "kernels": kernel_table(
                texts, [(t, t + inputs.NEAR_SUFFIX) for t in texts[:KERNEL_PAIRS]]
            ),
            "detail": {
                "stage": rows,
                "pipeline.gap_s": self_time(
                    (timed.start, timed.start + timed.wall_s), list(stage_iv.values())
                ),
                "pipeline.spill_mb": layers["spark"]["spill_mb"],
                "pipeline.unlabeled_jobs": sum(
                    not j.description.startswith("stage:") for j in jobs
                ),
                **{
                    f"catalog.{kind}_s": sum(x.dur for x in spans.named(f"catalog.{kind}"))
                    for kind in ("write", "read", "record_metrics")
                },
                "exact.dup_frac": (pipe.stage_rows.get("exact_memberships") or 0)
                / max(pipe.stage_rows.get("fingerprints") or 1, 1),
                "lsh.candidates": n_cand,
                "lsh.salted_buckets": flagged.get("salted_buckets", 0.0),
                "lsh.dropped_buckets": flagged.get("dropped_buckets", 0.0),
                "verify.edges": n_edges,
                "verify.pass_rate": n_edges / n_cand if n_cand else 0.0,
                "cc.clusters": len(clusters),
                "cc.max_cluster": int(clusters["count"].max()) if len(clusters) else 0,
            },
        }


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------
def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True).astype(str)


class QuerySuite:
    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.outcome = Outcome()
        import __spark_entry__

        self.entry = __spark_entry__
        self.queries = __spark_entry__.queries()

    def make_inputs(self) -> float:
        sf_dir = os.path.join(self.work, "sf")

        def write():
            shutil.rmtree(sf_dir, ignore_errors=True)
            return inputs.write_query_tables(sf_dir, QUERY_DOCS, QUERY_VECS, self.seed)

        self.tables, corpus_s = _materialize(write)
        self.expected: dict = {}
        self.oracle = threading.Thread(target=self._oracle)
        self.oracle.start()
        return corpus_s

    @property
    def docs(self) -> int:
        return self.tables.n_docs

    def _oracle(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in ("documents", "embeddings"):
                path = os.path.join(self.tables.sf_dir, f"{t}.parquet")
                con.execute(f"create view {t} as select * from read_parquet('{path}')")
            sql = self.entry.oracle_sql()
            for q in QUERIES:
                self.expected[q] = con.execute(sql[q]).fetchdf()
        finally:
            con.close()

    def warm_up(self, spark) -> None:
        for _ in range(2):
            self.run(spark)

    def run(self, spark, spans: Spans | None = None) -> Timed | None:
        """One pass; None when no query completed."""
        self.oracle.join()  # never let the oracle share the cores with the pass
        t_pass, epoch0 = time.monotonic(), time.time()
        got = {
            q: _guarded(self.outcome, f"query {q}", lambda q=q: self._query(spark, q, spans))
            for q in QUERIES
        }
        wall = time.monotonic() - t_pass
        got = {q: rows for q, rows in got.items() if rows is not None}
        self._check(got)
        return Timed(wall, epoch0) if got else None

    def _query(self, spark, q: str, spans: Spans | None):
        e0 = time.time()
        df = self.queries[q](spark, self.tables.sf_dir)
        e1 = time.time()
        rows = df.toPandas()
        if spans is not None:
            spans.record("query.plan", q, e0, e1)
            spans.record("query.exec", q, e1, time.time())
        return rows

    def _check(self, got: dict) -> None:
        """Each collected output against its DuckDB oracle result."""
        for q, rows in got.items():
            if q not in self.expected:  # the oracle thread raised
                self.outcome.record(["no oracle result"], q)
                continue
            a, b = _canon(rows), _canon(self.expected[q])
            same = list(a.columns) == list(b.columns) and len(a) == len(b) and a.equals(b)
            self.outcome.record([] if same else [f"{len(a)} rows vs oracle {len(b)}"], q)

    def traced(self, spans: Spans, store: StatusStore, j0: int, timed: Timed) -> dict:
        jobs, layers = _layer_totals(spans, store, j0, timed)
        rows = {}
        for q in QUERIES:
            plan = next((s for s in spans.named("query.plan") if s.key == q), None)
            ex = next((s for s in spans.named("query.exec") if s.key == q), None)
            if plan is None or ex is None:  # the query raised
                continue
            mine = [j for j in jobs if plan.start <= j.start <= ex.end]
            folded = fold_jobs(mine)
            rows[q] = {
                "plan_s": plan.dur,
                "exec_s": ex.dur,
                "self_s": self_time((plan.start, ex.end), [(j.start, j.end) for j in mine]),
                "jobs": folded["jobs"],
                "cpu_s": folded["cpu_s"],
                "shuffle_mb": folded["shuffle_mb"],
            }
        from cargo_dupes_spark.operators.dedup import NEAR_SUFFIX

        texts = [t for t in self.tables.texts if len(t) >= 64][:KERNEL_DOCS]
        q_spans = [(s.start, s.end) for s in spans.items]
        return {
            **layers,
            "op.max_step_share": max(r["plan_s"] + r["exec_s"] for r in rows.values())
            / timed.wall_s,
            "kernels": kernel_table(texts, [(t, t + NEAR_SUFFIX) for t in texts[:KERNEL_PAIRS]]),
            "detail": {
                "query": rows,
                "suite.gap_s": self_time((timed.start, timed.start + timed.wall_s), q_spans),
            },
        }


WORKLOADS = {"pipeline_bulk": PipelineBulk, "query_suite": QuerySuite}
