"""Pipeline configuration."""

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
    """Knobs for the ER pipeline stages."""

    # blocking
    minhash_rows: int = 4  # minhashes per band
    minhash_bands: int = 8  # bands (total sigs = rows*bands)
    shingle_k: int = 3  # char-shingle width
    neighborhood: int = 6  # sorted-neighborhood window (row offset band)
    max_block_size: int = 200  # hot-block threshold (cap, or salt trigger)
    salt_buckets: int = 16  # salt fan-out for hot blocks
    # False: rows beyond max_block_size in a block are dropped from pairing
    # (bounded work, bounded recall).  True: hot blocks are instead SALTED
    # into salt_buckets sorted sub-blocks — no rows dropped, work bounded per
    # sub-block, and the single-task hot-key window becomes salt_buckets
    # parallel tasks (the 10^12-page head-domain-skew setting).  Note the
    # recall trade: pairs between rows hashed into DIFFERENT sub-blocks of
    # the same hot key are not generated (the salt destroys sorted-
    # neighborhood locality across sub-blocks).
    salt_hot_blocks: bool = False
    # scoring
    score_threshold: float = 0.0  # logistic margin for a match edge
    # clustering
    max_cc_iterations: int = 50
    # stage checkpoint root (parquet locally; iceberg table prefix on cluster)
    checkpoint_dir: str = "/tmp/bes_checkpoints"
    checkpoint_format: str = "parquet"


SCALES = {
    "tiny": SynthConfig(n_pages=1000, n_entities=60),
    "small": SynthConfig(n_pages=20000, n_entities=400),
    "bench": SynthConfig(n_pages=200000, n_entities=1500),
}


def scale_config(name: str) -> SynthConfig:
    return SCALES[name]


DEFAULT_PIPELINE = PipelineConfig()
