"""CLI entry point [O3/O4/O5] — report / stats / check / ignore / ignored /
cleanup / stream subcommands.

Mirrors the reference CLI surface (``cargo-dupes/src/main.rs:60-87``,
``dupes-core/src/cli.rs:234-440``): `report` is the flagship path, `check`
the CI gate with exit codes 0/1/2, `ignore`/`ignored`/`cleanup` manage the
ignore table, `stream` drains a parquet drop dir incrementally. Ships to a
cluster as ``scripts/package.sh && spark-submit --py-files dist/pipeline.zip
main.py <subcommand>`` (``main.py`` forwards to this module).

Input selection: --input is a parquet path/dir with web_pages columns, or
'fixtures' (the seeded synthetic corpus), or 'documents:<sf_dir>' for the
driver-provided documents tables.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession

from .config import PipelineConfig, load_config
from .operators.groups import (
    assemble_groups,
    filter_ignored,
    stale_ignore_entries,
)
from .operators.lsh import ALL_DETECTORS
from .plans.check import EXIT_ERROR, run_check
from .plans.pipeline import Pipeline
from .plans.report import json_report, text_report
from .session import build_session
from .sources.catalog import Catalog
from .sources.ignore import add_ignore, load_ignore, remove_ignore, remove_stale
from .sources.web_pages import documents_as_web_pages, generate_web_pages


def _load_input(spark: SparkSession, spec: str) -> DataFrame:
    if spec == "fixtures":
        df, _ = generate_web_pages(spark)
        return df
    if spec.startswith("documents:"):
        return documents_as_web_pages(spark, spec.split(":", 1)[1])
    return spark.read.parquet(spec)


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cargo-dupes-spark")
    p.add_argument("--config", default="pipeline.toml", help="TOML config path")
    p.add_argument("--input", default="fixtures")
    p.add_argument("--warehouse", default=None)
    p.add_argument("--detectors", default="minhash,substring",
                   help=f"comma list from {ALL_DETECTORS}")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--parallelism", type=int, default=None)
    p.add_argument("--threshold", type=float, default=None,
                   help="jaccard_threshold override")
    p.add_argument("--min-tokens", type=int, default=None)
    sub = p.add_subparsers(dest="command")
    sub.default = "report"

    rep = sub.add_parser("report", help="full analysis + group report")
    rep.add_argument("--format", choices=["text", "json"], default="text")
    rep.add_argument("--top", type=int, default=None)

    sub.add_parser("stats", help="analysis + stats only")

    chk = sub.add_parser("check", help="CI gate (exit 1 on threshold breach)")
    chk.add_argument("--max-exact", type=int, default=None)
    chk.add_argument("--max-near", type=int, default=None)
    chk.add_argument("--max-exact-percent", type=float, default=None)
    chk.add_argument("--max-near-percent", type=float, default=None)

    ign = sub.add_parser("ignore", help="add/remove an ignored fingerprint")
    ign.add_argument("fingerprint", help="hex or decimal group fingerprint")
    ign.add_argument("--reason", default=None)
    ign.add_argument("--remove", action="store_true")

    sub.add_parser("ignored", help="list ignored fingerprints")
    cln = sub.add_parser("cleanup", help="drop stale ignore entries")
    cln.add_argument("--dry-run", action="store_true")

    stm = sub.add_parser(
        "stream",
        help="incremental dedup (exact; near with --near) over a web_pages "
             "parquet drop dir",
    )
    stm.add_argument("drop_dir", help="directory watched for parquet drops")
    stm.add_argument("--checkpoint", default=None,
                     help="streaming checkpoint dir (default <warehouse>/stream_ckpt)")
    stm.add_argument("--follow", action="store_true",
                     help="keep running (default: drain available files and exit)")
    stm.add_argument("--near", action="store_true",
                     help="also run the incremental NEAR-dup tier "
                          "(MinHash band-key state + exact-Jaccard verify)")
    return p


def _parse_fp(s: str) -> int | str:
    """Hex (16-char, reference to_hex format) or decimal; signed i64 wrap.
    A 32-char hex string is a 128-bit fingerprint (cfg.fingerprint_bits=128)
    and stays in its canonical lowercase-hex string form."""
    if len(s) == 32 and all(c in "0123456789abcdefABCDEF" for c in s):
        return s.lower()
    v = int(s, 16) if any(c in s.lower() for c in "abcdef") or len(s) == 16 else int(s)
    return v - (1 << 64) if v >= (1 << 63) else v


def _fp_hex(fp: int | str) -> str:
    """Canonical hex form: 128-bit fps already ARE hex strings; 64-bit longs
    print as the reference's 16-char two's-complement u64 hex."""
    return fp if isinstance(fp, str) else f"{fp & ((1 << 64) - 1):016x}"


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    try:
        cfg: PipelineConfig = load_config(
            args.config,
            warehouse=args.warehouse,
            jaccard_threshold=args.threshold,
            min_tokens=args.min_tokens,
        )
    except (ValueError, OSError) as e:
        print(f"error: {e}", file=sys.stderr)
        return EXIT_ERROR

    spark = build_session(parallelism=args.parallelism)
    try:
        catalog = Catalog(spark, cfg.warehouse, cfg.config_hash())
        cmd = args.command or "report"

        if cmd == "ignore":
            fp = _parse_fp(args.fingerprint)
            if args.remove:
                ok = remove_ignore(catalog, fp)
                print("removed" if ok else "not found")
            else:
                ok = add_ignore(catalog, fp, args.reason)
                print("added" if ok else "already ignored")
            return 0

        if cmd == "ignored":
            for row in load_ignore(catalog).collect():
                print(f"{_fp_hex(row.fingerprint)}  {row.reason or ''}")
            return 0

        if cmd == "stream":
            import os

            from .streaming.incremental import (
                incremental_dedup,
                load_stream_dups,
                load_stream_near_dups,
                read_web_pages_stream,
            )

            ckpt = args.checkpoint or os.path.join(
                cfg.warehouse, "stream_ckpt"
            )
            tiers = ("exact", "near") if args.near else ("exact",)
            q = incremental_dedup(
                read_web_pages_stream(spark, args.drop_dir),
                catalog,
                cfg,
                ckpt,
                tiers=tiers,
                available_now=not args.follow,
            )
            q.awaitTermination()
            n = load_stream_dups(catalog).count()
            msg = f"stream drained; {n} duplicate arrivals recorded"
            if args.near:
                msg += (
                    f"; {load_stream_near_dups(catalog).count()}"
                    " near-duplicate arrivals recorded"
                )
            print(msg)
            return 0

        # all remaining commands run (or resume) the analysis
        web_pages = _load_input(spark, args.input)
        detectors = tuple(d for d in args.detectors.split(",") if d)
        pipe = Pipeline(spark, cfg, catalog=catalog, detectors=detectors,
                        resume=args.resume)
        out = pipe.run(web_pages)

        if cmd == "cleanup":
            if args.dry_run:  # list only (ignore.rs:105-137)
                rows = stale_ignore_entries(
                    load_ignore(catalog, bits=cfg.fingerprint_bits),
                    out["memberships"],
                ).collect()
                print(f"{len(rows)} stale entries (dry run, not removed)")
            else:
                rows = remove_stale(catalog, out["memberships"]).collect()
            for r in rows:
                print(f"stale: {_fp_hex(r.fingerprint)}")
            return 0

        if cmd == "check":
            result = run_check(
                out["stats"], cfg,
                max_exact_groups=args.max_exact,
                max_near_groups=args.max_near,
                max_exact_percent=args.max_exact_percent,
                max_near_percent=args.max_near_percent,
            )
            for line in result.failures:
                print(line)
            print("Check passed." if result.passed else "Check failed.")
            return result.exit_code

        groups = filter_ignored(
            assemble_groups(out["memberships"], out["fingerprints"]),
            load_ignore(catalog, bits=cfg.fingerprint_bits),
        )
        if cmd == "stats":
            out["stats"].show(truncate=False)
            return 0
        fmt = getattr(args, "format", "text")
        top = getattr(args, "top", None)
        if fmt == "json":
            print(json_report(groups, out["stats"], top))
        else:
            print(text_report(groups, out["stats"], top))
        return 0
    except Exception as e:  # operational errors exit 2 (cli.rs:39-49)
        print(f"error: {e}", file=sys.stderr)
        return EXIT_ERROR
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
