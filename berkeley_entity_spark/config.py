"""Pipeline configuration.

SynthConfig holds the synthetic-corpus knobs.  PipelineConfig holds the one
thing a deployment of the ER pipeline sets: where its stage tables live.
The blocking constants (MinHash shape, shingle width, neighborhood width,
hot-block cap) are module constants of operators.blocking, and the decode
threshold and CC round limit are the defaults of match_edges and
connected_components.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class SynthConfig:
    """Deterministic synthetic-corpus knobs (FIXTURES.md §1). Everything is a
    pure function of (seed, row id) — independent of partitioning."""

    n_pages: int = 1000
    n_entities: int = 60
    seed: int = 42
    n_domains: int = 50
    zipf_s: float = 1.2  # domain + entity popularity skew exponent
    pct_non_en: float = 0.05


@dataclass(frozen=True)
class PipelineConfig:
    """Where the ER pipeline's stage tables live (parquet under this root)."""

    checkpoint_dir: str


SCALES = {
    "tiny": SynthConfig(n_pages=1000, n_entities=60),
    "small": SynthConfig(n_pages=20000, n_entities=400),
    "bench": SynthConfig(n_pages=200000, n_entities=1500),
}


def scale_config(name: str) -> SynthConfig:
    return SCALES[name]
