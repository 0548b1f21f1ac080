"""scripts/scaling.py: the N-vs-4N strong-scaling protocol and its
synthetic corpus generator."""

from __future__ import annotations

import importlib.util
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
SCRIPT = REPO / "scripts" / "scaling.py"


def _load_script():
    spec = importlib.util.spec_from_file_location("scaling_script", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_help_starts_no_spark():
    # --help exits 0 before anything imports pyspark, so no JVM can start
    code = (
        "import runpy, sys\n"
        f"sys.argv = [{str(SCRIPT)!r}, '--help']\n"
        "try:\n"
        f"    runpy.run_path({str(SCRIPT)!r}, run_name='__main__')\n"
        "except SystemExit as e:\n"
        "    assert e.code in (0, None), e.code\n"
        "assert 'pyspark' not in sys.modules\n"
        "print('NO_SPARK')\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=REPO, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert "--scaling" in proc.stdout and "NO_SPARK" in proc.stdout


def test_synthetic_corpus_shape(spark):
    gen = _load_script().synthetic_web_pages_at_scale
    rows = gen(spark, 700).select("url", "text").collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls)) == 700 + 70 + 100

    by_kind: dict[str, dict[int, str]] = {"d": {}, "x": {}, "n": {}}
    for r in rows:
        kind, sid = re.search(r"\.example/([dxn])(\d+)$", r["url"]).groups()
        by_kind[kind][int(sid)] = r["text"]
    originals, exacts, nears = by_kind["d"], by_kind["x"], by_kind["n"]
    assert sorted(originals) == list(range(700))
    assert sorted(exacts) == [i for i in range(700) if i % 10 == 0]
    assert sorted(nears) == [i for i in range(700) if i % 7 == 0]
    # every 10th doc has a byte-exact copy; near copies differ by one token
    for i, text in exacts.items():
        assert text == originals[i]
    for i, text in nears.items():
        assert text == originals[i] + " extrazz"
