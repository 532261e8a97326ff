"""Frozen config dataclasses: the settings callers vary.

Defaults follow the reference where a token-domain analog exists:
window 2048 / hop 512 (reference fingerprint/fingerprint.go:72-73) is
scaled to W=64 / H=16 for token sequences (same 4:1 overlap ratio).
A setting is a field here, or a function parameter anywhere in the
package, only when two callers outside tests/ give it different values;
a setting with one value in use is a constant (or a literal) next to the
code that reads it.  tests/test_unreferenced.py enforces this for the
fields here and for every function parameter, and fails on a call that
passes a parameter's default explicitly.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import ClassVar


@dataclass(frozen=True)
class FrameConfig:
    """Frame/hop sliding-window parameters.

    n_frames = (n - window) // hop + 1 for n >= window else 0 —
    formula of reference fingerprint/analyzers/spectral.go:409.
    """

    window: int = 64
    hop: int = 16
    # per-window weighting (Window.Apply, windowing.go:167-186):
    # coefficient type applied to every frame before statistics
    window_type: str = "rectangular"


@dataclass(frozen=True)
class FeatureConfig:
    """Which per-frame feature groups to compute (column pruning analog of
    reference fingerprint/config/config.go:22-27 Enable* flags)."""

    enable_energy: bool = True
    enable_moments: bool = True
    enable_percentiles: bool = True
    enable_entropy: bool = True
    enable_zcr: bool = True
    enable_flux: bool = True
    # frequency-domain analog family over the per-frame histogram
    # (centroid/rolloff/bandwidth/flatness/slope/contrast/power)
    enable_spectral: bool = True
    # MFCC analog: mel filterbank -> log -> DCT-II -> liftering over
    # the histogram-as-spectrum (mfcc.go defaults scaled to 16 bins)
    enable_mfcc: bool = True
    # bark-band energies (Traunmueller scale, bark_scale.go) — opt-in
    enable_bark: bool = False
    # music-extractor composite route (extractors/music.go:178-243):
    # adds the per-doc mean-chroma fingerprint columns chroma0..11
    # (calculateMeanChromaVector, comparison.go:691-712) next to the
    # speech stats so compare_topk scores the chroma group
    enable_chroma: bool = False
    # fixed-width histogram bins (Scott-rule analog); not a field
    entropy_bins: ClassVar[int] = 16


@dataclass(frozen=True)
class AsofConfig:
    """Parameters of the bucketed as-of strategy (the union strategy
    reads none).

    bucket_width=None (adaptive) sizes buckets from the data so the
    hottest entity's rows per (entity, bucket) shard ~
    asof._TARGET_ROWS_PER_BUCKET: buckets exist only to split
    oversized single-entity timelines across tasks, so they are as
    wide as that allows."""

    bucket_width: int | None = 1 << 14  # range-bucket width in ts ticks
    salt: int = 1  # left-side salt factor for hot entities (right replicated)


@dataclass(frozen=True)
class MinHashConfig:
    """MinHash over k-token shingles (compact-hash role sketched at
    reference fingerprint/comparison.go:74,91-106)."""

    num_hashes: int = 64
    bands: int = 16  # LSH bands; rows per band = num_hashes // bands


@dataclass(frozen=True)
class AlignmentConfig:
    """Cross-correlation / DTW alignment (reference
    algorithms/stats/alignment.go, config/config.go:103-117)."""

    max_lag: int = 128  # frames; clamped to min(len)-1 in-kernel


@dataclass(frozen=True)
class ComparisonConfig:
    """Weighted similarity + top-k (reference fingerprint/comparison.go)."""

    # per-content weight tables (comparison.go:1055-1104), token-domain
    # groups; "mfcc" participates when fingerprints carry the MFCC
    # stats (the reference's speech path weights MFCC highest)
    weights: dict = field(
        default_factory=lambda: {
            "web": {"energy": 0.2, "moments": 0.2, "minhash": 0.3, "mfcc": 0.3},
            "books": {"energy": 0.1, "moments": 0.2, "minhash": 0.4, "mfcc": 0.3},
            "code": {"energy": 0.3, "moments": 0.2, "minhash": 0.3, "mfcc": 0.2},
            "news": {"energy": 0.2, "moments": 0.3, "minhash": 0.2, "mfcc": 0.3},
        }
    )
