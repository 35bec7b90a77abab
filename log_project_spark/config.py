"""Pipeline configuration.

Defaults mirror the reference CLI (src/stream.py:258-292): alpha=0.01,
window=5000, warmup=200, adwin_delta=0.002, seed=20250819. The
reference's `--contam` has no field: the score is -score_samples, which
IsolationForest's contamination does not change (SURVEY.md M2/M3).
`scope` selects calibration-state sharding:

- "conv_id": grouped state per conversation, ordered by turn_idx —
  the distributed contract (BASELINE.json north_rule).
- "global": one stream, matching the reference's single global
  calibrator/ADWIN/warmup (src/stream.py:313-315,363). On a
  single-conversation input the two are identical; tests exploit this
  for bit-exact comparison against the reference transliteration.
"""

from __future__ import annotations

from dataclasses import dataclass

from .adwin import DETECTOR_KINDS

DEFAULT_SEED = 20250819

# the closed value sets of the string fields, checked on construction
# so a typo fails on the driver instead of silently meaning a default
CHOICES = {
    "calibration": ("conformal", "no_calib"),
    "scope": ("conv_id", "global"),
    "mode": ("baseline", "transformer", "len"),
    "drift_detector": DETECTOR_KINDS,
}


@dataclass(frozen=True)
class PipelineConfig:
    # calibration (src/stream.py:274-276, src/calibration.py:20)
    alpha: float = 0.01
    window: int = 5000
    warmup: int = 200
    calibration: str = "conformal"  # "conformal" | "no_calib"
    scope: str = "conv_id"  # "conv_id" | "global"

    # drift (src/stream.py:283-288)
    drift_detector: str = "adwin"  # "adwin" | "none" ("off"/"fallback" = "none")
    adwin_delta: float = 0.002

    # per-event pacing simulation knob (src/stream.py:268-270,373-374);
    # 0 = off. Parity/simulation only — never set in throughput paths.
    sleep_ms: float = 0.0

    # scoring (src/stream.py:264,289-290)
    mode: str = "baseline"  # "baseline" (iforest) | "transformer" (hash-embed) | "len"
    seed: int = DEFAULT_SEED
    iso_n_estimators: int = 200
    iso_max_samples: int = 512
    hash_features: int = 1024
    fit_sample_rows: int = 200_000  # cap on driver-side fit sample

    # transformer-mode kernel (src/transformer.py:40-57)
    embed_dim: int = 32
    embed_window: int = 32
    embed_decay: float = 0.90

    def __post_init__(self) -> None:
        for name, allowed in CHOICES.items():
            value = getattr(self, name)
            if value not in allowed:
                raise ValueError(f"PipelineConfig.{name}={value!r}: expected one of {allowed}")

    def scope_keys(self) -> list[str]:
        return ["conv_id"] if self.scope == "conv_id" else []
