"""The CLI surface driven in-process (``cli.main``) on the shared session:
``build_session`` returns the ``spark`` fixture and its ``stop`` is a no-op,
so no spark-submit is needed. Two pipeline runs over the seeded fixture
corpus, one per fingerprint width; follow-up commands ``--resume`` them."""

from __future__ import annotations

import pytest

from cargo_dupes_spark import cli

STALE_FP = "0123456789abcdef"  # matches no group of the fixture corpus


@pytest.fixture()
def run_cli(spark, monkeypatch, capsys, tmp_path):
    monkeypatch.setattr(cli, "build_session", lambda **_: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    def run(*args: str, bits: int = 64) -> str:
        toml = tmp_path / f"pipeline_{bits}.toml"
        toml.write_text(f"[pipeline]\nfingerprint_bits = {bits}\n")
        code = cli.main([
            "--config", str(toml),
            "--warehouse", str(tmp_path / f"wh_{bits}"),
            "--input", "fixtures",
            *args,
        ])
        out = capsys.readouterr()
        assert code == 0, out.err
        return out.out

    return run


def test_cleanup_dry_run_keeps_entries(run_cli):
    assert run_cli("ignore", STALE_FP).strip() == "added"
    out = run_cli("cleanup", "--dry-run")
    assert "1 stale entries (dry run, not removed)" in out
    assert f"stale: {STALE_FP}" in out
    # the dry run wrote nothing: the entry is still listed
    assert STALE_FP in run_cli("ignored")
    # the real cleanup removes it
    assert f"stale: {STALE_FP}" in run_cli("--resume", "cleanup")
    assert run_cli("ignored").strip() == ""


def test_report_and_stats_on_128_bit_config(run_cli):
    out = run_cli("stats", bits=128)
    assert "exact_groups" in out
    assert "members" in run_cli("--resume", "report", bits=128)
    assert "Check passed." in run_cli("--resume", "check", bits=128)
