"""perfbench's kernel table over the library's kernels, without Spark.

``perfbench/kernels.kernel_table`` calls library kernels positionally and
reads PipelineConfig attributes, but the benchmark runs it only when traced
(``--trace 1``); this keeps a library change that breaks it visible in the
ordinary test run."""

from __future__ import annotations

import math
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_perfbench_kernel_table_runs(monkeypatch):
    monkeypatch.syspath_prepend(str(REPO / "perfbench"))
    from kernels import kernel_table

    texts = [
        " ".join(f"w{i * 7 + j}" for j in range(40)) for i in range(3)
    ] + ["short doc"]
    pairs = [(texts[0], "prefix " + texts[0] + " suffix")]
    table = kernel_table(texts, pairs, repeats=1)
    assert set(table) == {
        "kernel.signature_us_per_doc",
        "kernel.minhash_us_per_doc",
        "kernel.simhash_us_per_doc",
        "kernel.winnow_us_per_doc",
        "kernel.lcs_us_per_pair",
        "kernel.shingles_per_doc",
    }
    assert all(math.isfinite(v) for v in table.values())
