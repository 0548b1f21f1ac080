"""PipelineConfig loading: layer precedence, list coercion and the fixed
signature geometry. No Spark session."""

from __future__ import annotations

import dataclasses

import pytest

from cargo_dupes_spark.config import PipelineConfig, load_config

# settings that are fixed values, not config keys
FIXED = (
    "mask_numbers", "mask_urls", "mask_emails",
    "shingle_k", "num_perm", "lsh_bands", "lsh_rows",
    "minhash_seed", "shingle_seed",
    "hamming_threshold", "simhash_chunks",
    "winnow_kgram", "winnow_window",
    "stream_fp_buckets",
)


def test_precedence_defaults_toml_overrides(tmp_path):
    toml = tmp_path / "pipeline.toml"
    toml.write_text(
        "[pipeline]\n"
        "min_tokens = 9\n"
        "jaccard_threshold = 0.8\n"
        'url_exclude = ["^http://ads\\\\.", "/tag/"]\n'
        'langs = ["en"]\n'
    )
    cfg = load_config(toml, jaccard_threshold=0.9, max_exact_groups=None)
    assert cfg.min_tokens == 9                       # TOML over default
    assert cfg.jaccard_threshold == 0.9              # override over TOML
    assert cfg.max_bucket_size == PipelineConfig().max_bucket_size  # default
    assert cfg.url_exclude == (r"^http://ads\.", "/tag/")
    assert cfg.langs == ("en",)
    # a None override leaves the lower layers alone
    assert cfg.max_exact_groups is None
    assert load_config(toml).jaccard_threshold == 0.8


def test_missing_toml_gives_defaults(tmp_path):
    assert load_config(tmp_path / "absent.toml") == PipelineConfig()


@pytest.mark.parametrize("key", FIXED)
def test_fixed_setting_is_not_a_key(tmp_path, key):
    toml = tmp_path / "pipeline.toml"
    toml.write_text(f"[pipeline]\n{key} = 1\n")
    with pytest.raises(ValueError, match=f"unknown config keys: \\['{key}'\\]"):
        load_config(toml)
    with pytest.raises(ValueError, match="unknown config keys"):
        load_config(None, **{key: 1})
    with pytest.raises(TypeError, match="unexpected keyword"):
        PipelineConfig(**{key: 1})


def test_field_count_and_fixed_geometry():
    names = {f.name for f in dataclasses.fields(PipelineConfig)}
    assert len(names) == 16
    assert not names & set(FIXED)
    # the attributes the benchmark's kernel table reads keep their values
    cfg = PipelineConfig()
    assert (
        cfg.shingle_k, cfg.num_perm, cfg.minhash_seed,
        cfg.winnow_kgram, cfg.winnow_window,
    ) == (3, 128, 1, 16, 49)
    assert cfg.lsh_bands * cfg.lsh_rows == cfg.num_perm
    assert cfg.simhash_chunks >= cfg.hamming_threshold + 1

