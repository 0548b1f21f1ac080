#!/usr/bin/env python
"""N-vs-4N strong-scaling protocol for the dedup pipeline.

Modes
-----
--scaling          Synthesize one --docs corpus, then run --pipeline-once at
                   local[N] and local[4N] (fresh JVMs, same input,
                   interleaved) and print ONE JSON line with throughput at
                   both levels and scaling efficiency = (thr_4N / thr_N) / 4,
                   next to the host's pure-CPU and DRAM-bandwidth ceilings.
--pipeline-once    Run the full dedup pipeline (normalize -> fingerprint ->
                   exact tier -> MinHash/LSH -> verify -> CC -> stats, all
                   stages checkpointed) over the synthetic corpus at --cpus;
                   print a JSON line with docs/sec. The unit of work of a
                   scaling run.
--membw            Print the DRAM streaming-bandwidth ceiling at
                   --scaling-base-cpus vs 4x and exit.

Run from the repository root: the pipeline's Python UDF workers import the
package from the working directory.

    python scripts/scaling.py --scaling --scaling-base-cpus 1 --docs 3000 --repeats 1

The measurement protocol and the recorded runs are in BASELINE.md and the
SCALING_*.json files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def synthetic_web_pages_at_scale(
    spark,
    n_docs: int,
    seed: int = 7,
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
    exact_mod: int = 10,
    near_mod: int = 7,
    vocab_size: int = 30000,
    num_partitions: int | None = None,
    min_doc_tokens: int = 55,
    token_spread: int = 32,
):
    """Deterministic web_pages corpus at arbitrary scale, generated entirely
    JVM-side (spark.range + xxhash64 token synthesis — no driver data, no
    Python). Dup structure is LINEAR in n_docs: every ``exact_mod``-th doc
    gets a byte-exact copy and every ``near_mod``-th doc a one-token near
    copy (token-shingle Jaccard ≈ (n-2)/(n-1) ≈ 0.98), so verify/cluster
    work scales with the corpus instead of quadratically in replica-group
    size.
    """
    from pyspark.sql import functions as F

    sid = F.col("id")
    base = (
        spark.range(0, n_docs, 1, num_partitions)
        if num_partitions
        else spark.range(n_docs)
    )
    n_tok = (
        F.lit(min_doc_tokens)
        + F.pmod(F.xxhash64(F.lit(seed), sid), F.lit(token_spread))
    ).cast("int")
    # words must SURVIVE normalization (digits would be masked to <num>,
    # collapsing every doc to the same norm_text): build 6-letter words from
    # the hash via three 2-letter slices of a fixed alphabet => 26^3 = 17576
    # distinct words, one xxhash64 + three substrings per token
    alphabet = F.lit("abcdefghijklmnopqrstuvwxyza")

    def _word(j):
        h = F.pmod(F.xxhash64(F.lit(seed + 1), sid, j), F.lit(vocab_size))
        return F.concat(
            F.substring(alphabet, (F.pmod(h, F.lit(26)) + 1).cast("int"), 2),
            F.substring(
                alphabet,
                (F.pmod((h / 26).cast("long"), F.lit(26)) + 1).cast("int"),
                2,
            ),
            F.substring(
                alphabet,
                (F.pmod((h / 676).cast("long"), F.lit(26)) + 1).cast("int"),
                2,
            ),
        )

    words = F.transform(F.sequence(F.lit(1), n_tok), _word)
    lang = F.element_at(
        F.array(*[F.lit(lg) for lg in langs]),
        (F.pmod(sid, F.lit(len(langs))) + 1).cast("int"),
    )
    gen = base.select(
        sid,
        F.array_join(words, " ").alias("text"),
        lang.alias("lang"),
        F.timestamp_seconds(F.lit(1704067200) + sid).alias("warc_ts"),
    )

    def rows(df, prefix: str, text_col):
        return df.select(
            F.concat(
                F.lit("http://synth"),
                F.pmod(F.xxhash64(F.lit(seed + 2), sid), F.lit(997)).cast("string"),
                F.lit(f".example/{prefix}"),
                sid.cast("string"),
            ).alias("url"),
            F.col("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            text_col.alias("text"),
            F.col("lang"),
        )

    originals = rows(gen, "d", F.col("text"))
    exacts = rows(gen.filter(F.pmod(sid, F.lit(exact_mod)) == 0), "x", F.col("text"))
    nears = rows(
        gen.filter(F.pmod(sid, F.lit(near_mod)) == 0),
        "n",
        F.concat(F.col("text"), F.lit(" extrazz")),
    )
    return originals.unionByName(exacts).unionByName(nears)


def _scaling_corpus(spark, docs: int):
    # partition count fixed independently of cpus so both scaling levels
    # process the identical input split; ~200-token docs (~1.4 KB)
    # approximate Common-Crawl extracted-text sizes
    return synthetic_web_pages_at_scale(
        spark, docs, num_partitions=64, min_doc_tokens=140, token_spread=120,
    )


def run_pipeline_once(cpus: int, docs: int, input_path: str | None = None) -> dict:
    from cargo_dupes_spark.config import PipelineConfig
    from cargo_dupes_spark.plans.pipeline import Pipeline
    from cargo_dupes_spark.session import build_session

    warehouse = tempfile.mkdtemp(prefix=f"scaling_wh_{cpus}_")
    # 4 tasks per core: with exactly one task per core a single straggler
    # (host steal, skewed partition) stretches the whole stage — measured as
    # candidate_pairs scaling only ~1.9x over 4x cores. AQE's
    # parallelism-first coalescing only merges sub-1MB partitions, so the
    # slack survives for real shuffles.
    spark = build_session(
        app_name=f"scaling-pipeline-{cpus}", parallelism=cpus,
        shuffle_partitions=max(4 * cpus, 16),
    )
    try:
        cfg = PipelineConfig(
            warehouse=warehouse,
            checkpoint_dir=os.path.join(warehouse, "ckpt"),
        )
        if input_path is None:
            # materialize the input corpus OUTSIDE the timed window: the
            # input is a parquet table of web pages, so the measured job
            # starts from a table scan, not from synthesis
            input_path = os.path.join(warehouse, "input_web_pages")
            _scaling_corpus(spark, docs).write.mode("overwrite").parquet(
                input_path
            )
        web_pages = spark.read.parquet(input_path)
        n_docs = web_pages.count()

        # JIT/codegen warm-up, excluded from timing (BASELINE.md protocol):
        # a miniature pipeline run compiles every hot code path (regex
        # normalize, shingle windows, Arrow UDF round-trip, shuffle + parquet
        # write) so the measured run reflects steady-state throughput.
        # Without it the first ~15 s of the measured run is C2-compiler
        # time, a fixed cost that poisons the N-vs-4N comparison.
        warm_wh = os.path.join(warehouse, "warmup")
        warm_cfg = PipelineConfig(
            warehouse=warm_wh, checkpoint_dir=os.path.join(warm_wh, "ckpt")
        )
        warm_pipe = Pipeline(spark, warm_cfg, detectors=("minhash",))
        warm_out = warm_pipe.run(
            synthetic_web_pages_at_scale(spark, 3000, num_partitions=8)
        )
        warm_out["memberships"].count()
        warm_out["stats"].collect()
        shutil.rmtree(warm_wh, ignore_errors=True)

        t0 = time.monotonic()
        pipe = Pipeline(spark, cfg, detectors=("minhash",))
        outputs = pipe.run(web_pages)
        n_members = outputs["memberships"].count()
        outputs["stats"].collect()
        wall = time.monotonic() - t0
        stage_walls = {
            r["stage"]: round(r["value"], 2)
            for r in pipe.catalog.read_metrics()
            .filter("metric = 'wall_seconds'")
            .collect()
        }
        return {
            "stage_walls": stage_walls,
            "cpus": cpus,
            "synthetic_docs": docs,
            "docs": n_docs,
            "memberships": n_members,
            "wall_s": round(wall, 3),
            "docs_per_sec": round(n_docs / wall, 1),
        }
    finally:
        spark.stop()
        shutil.rmtree(warehouse, ignore_errors=True)


def _cpu_spin(_):
    x = 0
    t0 = time.monotonic()
    for i in range(30_000_000):
        x += i * i
    return time.monotonic() - t0


def calibrate_cpu(n: int, repeats: int = 3) -> float:
    """Aggregate pure-CPU throughput (tasks/s) of n concurrent Python
    processes — embarrassingly parallel integer work, no Spark, no memory
    pressure. This is the HARDWARE ceiling: no distributed job can scale
    better than the host's vCPUs do, so scaling efficiency is reported both
    raw and normalized by this ceiling.
    """
    import multiprocessing as mp

    best = 0.0
    for _ in range(repeats):
        with mp.Pool(n) as p:
            t0 = time.monotonic()
            p.map(_cpu_spin, range(n))
            best = max(best, n / (time.monotonic() - t0))
    return round(best, 3)


def _mem_stream(_):
    """One worker's DRAM-streaming task: allocate a 256 MB float64 array
    (far beyond L3) and stream-read it repeatedly. Returns nothing; the
    caller times the pool wall. The traffic is ~256 MB written (the
    ``full`` fill) + 24 x 256 MB read = ~6.25 GB per task, all of it
    forced through the memory bus (a.sum() over 32M contiguous doubles
    cannot stay cache-resident)."""
    import numpy as _np

    a = _np.full(32 * 1024 * 1024, 1.0, dtype=_np.float64)  # 256 MB
    s = 0.0
    for _ in range(24):
        s += float(a.sum())
    return s


_MEM_BYTES_PER_TASK = 32 * 1024 * 1024 * 8 * 25  # 1 write + 24 read passes


def calibrate_membw(n: int, repeats: int = 3) -> float:
    """Aggregate DRAM streaming bandwidth (GB/s) of n concurrent
    processes. This is the OTHER hardware ceiling beside calibrate_cpu's
    pure-CPU one: on a shared-bus host the memory bus can saturate at a few
    streaming cores, so any bandwidth-bound stage (the Arrow sketch kernels
    + parquet writes of the signatures stage, the shingle-array shuffles of
    verify) cannot scale 4x over 4x cores NO MATTER WHAT THE PLAN DOES —
    each executor on a real cluster owns its DRAM. Reported as an
    INSTRUMENT next to the raw and CPU-normalized efficiencies; deliberately
    NOT folded into the normalization (a job grading itself on a bandwidth
    curve it sets would be circular — see BASELINE.md host pathology #2)."""
    import multiprocessing as mp

    best = 0.0
    for _ in range(repeats):
        with mp.Pool(n) as p:
            t0 = time.monotonic()
            p.map(_mem_stream, range(n))
            wall = time.monotonic() - t0
            best = max(best, n * _MEM_BYTES_PER_TASK / wall / 1e9)
    return round(best, 2)


def probe_window(
    base_cpus: int,
    min_ceiling: float = 0.9,
    min_per_cpu_rate: float = 0.55,
    min_membw: float = 0.0,
) -> dict:
    """Pre-launch host-weather probe (VERDICT r4 #6): ~30 s of pure-CPU
    spinners at N and 4N processes. A window is OK when (a) the pure-CPU
    N->4N ceiling reads >= min_ceiling (vCPUs not collapsed) AND (b) the
    ABSOLUTE per-cpu task rate is healthy (eight round-4 protocol runs:
    every gate-passing window had per-cpu rates >= ~0.6 tasks/s; windows
    probing clean ratios at 0.47-0.50 tasks/s soured mid-run).

    With ``min_membw`` > 0 the probe ALSO requires the DRAM-streaming
    N->4N ceiling to read >= min_membw. The bus ceiling swings with host
    weather like the CPU one does (recorded launch-adjacent samples range
    0.55-0.88 for the (2,8) pair) — and protocol run 10 showed that in a
    0.98-CPU window the job reads exactly the stage-weighted blend of the
    CPU and bus ceilings, so a window where BOTH instruments read healthy
    is the only kind in which the blended raw figure can clear the gate."""
    hw_n = calibrate_cpu(base_cpus, repeats=3)
    hw_4n = calibrate_cpu(base_cpus * 4, repeats=3)
    ceiling = (hw_4n / hw_n) / 4.0 if hw_n else 0.0
    per_cpu = hw_n / base_cpus
    out = {
        "hw_tasks_per_sec": {str(base_cpus): hw_n, str(base_cpus * 4): hw_4n},
        "ceiling": round(ceiling, 4),
        "per_cpu_rate": round(per_cpu, 4),
        "ok": bool(ceiling >= min_ceiling and per_cpu >= min_per_cpu_rate),
    }
    if min_membw > 0.0:
        bw_n = calibrate_membw(base_cpus, repeats=2)
        bw_4n = calibrate_membw(base_cpus * 4, repeats=2)
        bw_ceiling = (bw_4n / bw_n) / 4.0 if bw_n else 0.0
        out["membw_gbps"] = {str(base_cpus): bw_n, str(base_cpus * 4): bw_4n}
        out["membw_ceiling"] = round(bw_ceiling, 4)
        out["ok"] = bool(out["ok"] and bw_ceiling >= min_membw)
    return out


def run_scaling(
    base_cpus: int,
    docs: int,
    repeats: int = 2,
    probe_gate: bool = False,
    probe_max_waits: int = 6,
    probe_wait_s: float = 120.0,
    probe_min_ceiling: float = 0.9,
    probe_min_rate: float = 0.55,
    probe_min_membw: float = 0.0,
) -> dict:
    """Same job, same input, local[N] vs local[4N] in fresh JVMs.

    Each level runs `repeats` times and the best (minimum-wall) run is used,
    per the BASELINE.md protocol (warm-up effects excluded).

    The input corpus is synthesized ONCE (full host parallelism — it is
    outside every measured window) and shared read-only by all child runs:
    every level at every repeat scans byte-identical parquet.

    With ``probe_gate`` the launch waits for a clean host window: a pure-CPU
    probe must pass before the measured runs start (abort-and-retry up to
    probe_max_waits, every skipped window recorded in the JSON). The final
    JSON always carries the launch probe and a window_ok flag; a clean
    PRE-launch probe does not guarantee a clean run (windows sour mid-run —
    r4 run 8), so window_ok_in_run reports the in-run calibration too.
    """
    skipped: list[dict] = []
    probe = probe_window(
        base_cpus, probe_min_ceiling, probe_min_rate, probe_min_membw
    )
    if probe_gate:
        waits = 0
        while not probe["ok"] and waits < probe_max_waits:
            skipped.append(probe)
            time.sleep(probe_wait_s)
            waits += 1
            probe = probe_window(
                base_cpus, probe_min_ceiling, probe_min_rate, probe_min_membw
            )

    # DRAM-bandwidth instrument, sampled at launch (adjacent to the probe
    # the run starts under): aggregate streaming GB/s at N and 4N procs and
    # their ratio/4 — the bandwidth analogue of hw_ceiling_eff. A
    # bandwidth-bound stage's best possible N->4N scaling is THIS number,
    # not 1.0; recorded as evidence, never folded into normalized_eff.
    membw_n = calibrate_membw(base_cpus)
    membw_4n = calibrate_membw(base_cpus * 4)
    membw_ceiling = (membw_4n / membw_n) / 4.0 if membw_n else 0.0

    input_dir = tempfile.mkdtemp(prefix="scaling_input_")
    input_path = os.path.join(input_dir, "web_pages")
    try:
        from cargo_dupes_spark.session import build_session

        gen = build_session(app_name="scaling-gen")
        try:
            _scaling_corpus(gen, docs).write.mode("overwrite").parquet(
                input_path
            )
        finally:
            gen.stop()

        # INTERLEAVED levels (N, 4N, N, 4N, ...) with a calibration sample
        # adjacent to every Spark run: the host's steal-like interference is
        # sustained over minutes, so running all-N-then-all-4N lets one
        # level soak a bad window the other never sees (observed as
        # pure-CPU "ceilings" above 1.0 — physically meaningless).
        # Interleaving gives both levels, and the calibration, the same
        # exposure to the noise; best-of-repeats then estimates the
        # achievable throughput at each level under comparable conditions.
        results: dict[int, list[dict]] = {}
        hw: dict[int, float] = {}
        for _ in range(repeats):
            for cpus in (base_cpus, base_cpus * 4):
                hw[cpus] = max(
                    hw.get(cpus, 0.0), calibrate_cpu(cpus, repeats=1)
                )
                cmd = [
                    sys.executable, os.path.abspath(__file__),
                    "--pipeline-once", "--cpus", str(cpus),
                    "--docs", str(docs), "--input-path", input_path,
                ]
                proc = subprocess.run(
                    cmd, capture_output=True, text=True, cwd=REPO
                )
                if proc.returncode != 0:
                    raise RuntimeError(
                        f"pipeline-once at cpus={cpus} failed:\n"
                        f"{proc.stderr[-4000:]}"
                    )
                results.setdefault(cpus, []).append(
                    json.loads(proc.stdout.strip().splitlines()[-1])
                )
    finally:
        shutil.rmtree(input_dir, ignore_errors=True)
    best = {c: min(rs, key=lambda r: r["wall_s"]) for c, rs in results.items()}
    thr_n = best[base_cpus]["docs_per_sec"]
    thr_4n = best[base_cpus * 4]["docs_per_sec"]
    raw_eff = (thr_4n / thr_n) / 4.0
    # final calibration samples folded into the per-run interleaved maxima
    hw_n = max(hw[base_cpus], calibrate_cpu(base_cpus, repeats=1))
    hw_4n = max(hw[base_cpus * 4], calibrate_cpu(base_cpus * 4, repeats=1))
    hw_ceiling = (hw_4n / hw_n) / 4.0
    return {
        "metric": "scaling_efficiency_Nx4",
        "value": round(raw_eff, 4),
        "unit": "fraction",
        "n_cpus": base_cpus,
        "throughput_n": thr_n,
        "throughput_4n": thr_4n,
        # hardware calibration: what PERFECT software could achieve on this
        # host (pure-CPU n-process throughput ratio); normalized = job
        # efficiency relative to that ceiling
        "hw_ceiling_eff": round(hw_ceiling, 4),
        "hw_tasks_per_sec": {str(base_cpus): hw_n, str(base_cpus * 4): hw_4n},
        # a measured ceiling > 1.0 is sampling noise (the host cannot scale
        # super-linearly). Clamping the normalizer at 1.0 can only RAISE the
        # reported efficiency vs dividing by the measured ceiling (if
        # calibration sampled a slow window, raw_eff is inflated and the
        # clamp preserves that inflation) — so BOTH normalizations are
        # emitted: normalized_eff (clamped, headline) and
        # normalized_eff_unclamped (divided by the ceiling as measured).
        "normalized_eff": round(min(raw_eff / min(hw_ceiling, 1.0), 1.0), 4)
        if hw_ceiling > 0
        else None,
        "normalized_eff_unclamped": round(min(raw_eff / hw_ceiling, 1.0), 4)
        if hw_ceiling > 0
        else None,
        # DRAM streaming bandwidth at N and 4N procs (GB/s) + its N->4N
        # ceiling: the measured upper bound for any bandwidth-bound stage
        # on a shared-bus host (instrument only — see calibrate_membw)
        "membw_gbps": {
            str(base_cpus): membw_n,
            str(base_cpus * 4): membw_4n,
        },
        "membw_ceiling": round(membw_ceiling, 4),
        # pre-launch host-weather probe + gate outcome (VERDICT r4 #6):
        # window_ok = the probe the run LAUNCHED under; window_ok_in_run =
        # the in-run interleaved calibration stayed clean too
        "probe": probe,
        "window_ok": probe["ok"],
        "window_ok_in_run": bool(hw_ceiling >= 0.85),
        "skipped_windows": skipped,
        "runs": {str(c): rs for c, rs in results.items()},
        "sf": f"synthetic:{docs}",
    }


def main() -> int:
    p = argparse.ArgumentParser(
        description="N-vs-4N strong-scaling protocol (run from the repo root)"
    )
    p.add_argument("--cpus", type=int, default=os.cpu_count())
    p.add_argument("--pipeline-once", action="store_true")
    p.add_argument("--scaling", action="store_true")
    p.add_argument("--scaling-base-cpus", type=int, default=8)
    p.add_argument("--repeats", type=int, default=2)
    p.add_argument(
        "--docs", type=int, default=300_000,
        help="base docs of the deterministic synthetic corpus (plus 10%% "
             "exact and ~14%% near copies)",
    )
    p.add_argument(
        "--input-path", default=None,
        help="pre-materialized web_pages parquet to scan instead of "
             "synthesizing (scaling mode shares one corpus this way)",
    )
    p.add_argument(
        "--probe-gate", action="store_true",
        help="scaling mode: wait for a clean host window (pure-CPU probe) "
             "before launching; skipped windows are recorded in the JSON",
    )
    p.add_argument("--probe-max-waits", type=int, default=6)
    p.add_argument("--probe-wait-s", type=float, default=120.0)
    p.add_argument(
        "--probe-min-ceiling", type=float, default=0.9,
        help="probe gate: minimum pure-CPU N->4N ceiling to launch",
    )
    p.add_argument(
        "--probe-min-rate", type=float, default=0.55,
        help="probe gate: minimum absolute per-cpu task rate to launch "
             "(healthy windows read >= ~0.6)",
    )
    p.add_argument(
        "--probe-min-membw", type=float, default=0.0,
        help="probe gate: also require the DRAM-streaming N->4N ceiling "
             ">= this (0 = don't gate on the bus; launch-adjacent samples "
             "on a shared-bus host ranged 0.55-0.88)",
    )
    p.add_argument(
        "--membw", action="store_true",
        help="measure the DRAM streaming-bandwidth ceiling at "
             "--scaling-base-cpus vs 4x and exit (instrument only)",
    )
    args = p.parse_args()

    if args.membw:
        n = args.scaling_base_cpus
        bw_n = calibrate_membw(n)
        bw_4n = calibrate_membw(n * 4)
        out = {
            "metric": "membw_ceiling",
            "value": round((bw_4n / bw_n) / 4.0, 4) if bw_n else None,
            "unit": "fraction",
            "membw_gbps": {str(n): bw_n, str(n * 4): bw_4n},
        }
    elif args.pipeline_once:
        out = run_pipeline_once(args.cpus, args.docs, args.input_path)
    elif args.scaling:
        out = run_scaling(
            args.scaling_base_cpus, args.docs, args.repeats,
            probe_gate=args.probe_gate,
            probe_max_waits=args.probe_max_waits,
            probe_wait_s=args.probe_wait_s,
            probe_min_ceiling=args.probe_min_ceiling,
            probe_min_rate=args.probe_min_rate,
            probe_min_membw=args.probe_min_membw,
        )
    else:
        p.error("choose one of --scaling, --pipeline-once or --membw")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
