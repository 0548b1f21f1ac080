"""Pipeline configuration with TOML + CLI layering.

Semantics mirror the reference's layered config
(``dupes-core/src/config.rs:114-142``: dupes.toml > Cargo.toml metadata >
defaults, with CLI overrides applied on top, ``dupes-core/src/cli.rs:193-215``)
— re-expressed as a frozen dataclass loaded from ``pipeline.toml`` with
explicit override kwargs.

Knob lineage (reference -> here):
  min_nodes=10            -> min_tokens          (P3 size gate)
  similarity_threshold    -> jaccard_threshold   (Dice t maps to J = t/(2-t);
                             reference code default Dice 0.9 / CLI 0.8 ->
                             J 0.818 / 0.667; we default J 0.7)
  sub_function / min_sub_nodes=5 -> 'substring' detector / min_substring_len
  exclude patterns        -> url_exclude
  exclude_tests           -> exclude_boilerplate
  CI thresholds (cli.rs:304-374) -> max_exact_groups etc.

What stays settable, and why:
  - the reference's knobs above;
  - input selection and format: content_type (the EXTRACTION_RULES key,
    the NodeMapping analog) and langs;
  - scale settings that tests set to reach their code paths:
    max_bucket_size, salt_buckets, fingerprint_bits;
  - IO paths: warehouse, checkpoint_dir.

Fixed, not settable: the shingle/signature geometry below is a block of
ClassVars, the number/URL/email masks of functions/normalize.py are always
on, and the streaming state's partition count is a constant of
streaming/incremental.py. Recall is measured "at the same shingle/signature
config" (north_rule), so the geometry is part of what a result means, not an
input. The streaming tiers also persist keys built from it, with nothing
in the state recording the geometry: a changed seed, k, band shape, winnow
size or mask would make keys that never match the stored state, and a
changed partition count would probe the wrong partitions. Either way dups
would go missing without an error. The one key-shaping field left
settable, fingerprint_bits, is checked against the stored state's own
column type when a stream starts, and a mismatch raises. A ClassVar is not
a dataclass field, so the constructor and load_config reject it and
config_hash() leaves it out.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import tomllib
from dataclasses import dataclass
from pathlib import Path
from typing import Any, ClassVar


@dataclass(frozen=True)
class PipelineConfig:
    # --- size gates (reference P3: parser.rs:66-72) ---
    min_tokens: int = 5

    # --- extraction (P1/P2/P5: table-driven rules per content type,
    # functions/extract.py EXTRACTION_RULES — the NodeMapping analog) ---
    content_type: str = "text/html"

    # --- verification threshold (J4; Dice->Jaccard mapping documented above) ---
    jaccard_threshold: float = 0.7

    # --- substring tier (X1-X3) ---
    min_substring_len: int = 64    # chars; reference min_sub_nodes=5 analog

    # --- filters (S1-S2, P4) ---
    url_exclude: tuple[str, ...] = ()
    exclude_boilerplate: bool = True
    langs: tuple[str, ...] = ()    # empty = all; cross-lang pairs never compared

    # --- skew handling (north_rule: hot-host URL skew) ---
    max_bucket_size: int = 2000    # LSH band buckets above this are salted/split
    salt_buckets: int = 16

    # --- fingerprint width ---
    # 64: BIGINT xxhash64 (default; collision math honest below ~10^9 docs).
    # 128: two independently seeded xxhash64 halves as one 32-char hex
    # string — the 10^12-doc upgrade path (functions/fingerprint.py). Flows
    # through exact tier, composites, CC node ids, ignore lists, streaming.
    fingerprint_bits: int = 64

    # --- CI gate thresholds (O4: cli.rs:304-374); None = not enforced ---
    max_exact_groups: int | None = None
    max_near_groups: int | None = None
    max_exact_percent: float | None = None
    max_near_percent: float | None = None

    # --- IO ---
    warehouse: str = "/tmp/cargo_dupes_spark/warehouse"
    checkpoint_dir: str = "/tmp/cargo_dupes_spark/checkpoints"

    # --- fixed signature geometry (class constants, not fields) ---
    # shingling / MinHash / LSH (F5-F7, J3)
    shingle_k: ClassVar[int] = 3       # tokens per shingle
    num_perm: ClassVar[int] = 128      # MinHash signature length
    lsh_bands: ClassVar[int] = 32      # bands * rows == num_perm
    lsh_rows: ClassVar[int] = 4
    minhash_seed: ClassVar[int] = 1
    shingle_seed: ClassVar[int] = 42
    # SimHash tier (F6): pigeonhole, pairs within 3 bits share 1 of 4 chunks
    hamming_threshold: ClassVar[int] = 3
    simhash_chunks: ClassVar[int] = 4
    # winnowing (X1): every match of >= k + w - 1 = 64 chars is found
    winnow_kgram: ClassVar[int] = 16   # k-gram size (chars)
    winnow_window: ClassVar[int] = 49

    def config_hash(self) -> str:
        """Deterministic hash of all knobs — recorded with every metrics row
        so a resume only skips stages produced under the identical config
        (reference analog: a changed dupes.toml invalidates prior results).
        The IO paths are left out: they say where outputs live, not what
        they hold, so a moved warehouse still resumes."""
        knobs = dataclasses.asdict(self)
        for io_path in ("warehouse", "checkpoint_dir"):
            del knobs[io_path]
        payload = json.dumps(knobs, sort_keys=True, default=str)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def validate(self) -> "PipelineConfig":
        from .functions.extract import EXTRACTION_RULES

        if self.content_type not in EXTRACTION_RULES:
            raise ValueError(
                f"no extraction rules for {self.content_type!r}; "
                f"known: {sorted(EXTRACTION_RULES)}"
            )
        if not 0.0 < self.jaccard_threshold <= 1.0:
            raise ValueError("jaccard_threshold must be in (0, 1]")
        if self.fingerprint_bits not in (64, 128):
            raise ValueError("fingerprint_bits must be 64 or 128")
        if self.winnow_kgram + self.winnow_window - 1 > self.min_substring_len:
            raise ValueError(
                "winnowing guarantee k+w-1 must be <= min_substring_len"
            )
        return self


def load_config(
    toml_path: str | Path | None = None, **overrides: Any
) -> PipelineConfig:
    """Layered load: defaults < pipeline.toml [pipeline] < explicit overrides.

    Mirrors Config::load + apply_overrides (config.rs:114-142, cli.rs:193-215):
    file values replace defaults, CLI/kwarg values replace file values, and
    unknown keys are rejected (the reference fails on malformed TOML too).
    """
    values: dict[str, Any] = {}
    if toml_path is not None:
        p = Path(toml_path)
        if p.exists():
            with open(p, "rb") as f:
                doc = tomllib.load(f)
            values.update(doc.get("pipeline", doc))
    values.update({k: v for k, v in overrides.items() if v is not None})

    known = {f.name for f in dataclasses.fields(PipelineConfig)}
    unknown = set(values) - known
    if unknown:
        raise ValueError(f"unknown config keys: {sorted(unknown)}")
    for key in ("url_exclude", "langs"):
        if key in values and isinstance(values[key], list):
            values[key] = tuple(values[key])
    return PipelineConfig(**values).validate()
