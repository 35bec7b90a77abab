"""PipelineConfig rejects unknown values of its string fields on the
driver, instead of a silent default or a Python-worker error."""

import pytest

from log_project_spark.adwin import make_detector
from log_project_spark.config import PipelineConfig


def test_defaults_and_every_listed_value_accepted():
    PipelineConfig()
    for calibration in ("conformal", "no_calib"):
        PipelineConfig(calibration=calibration)
    for scope in ("conv_id", "global"):
        PipelineConfig(scope=scope)
    for mode in ("baseline", "transformer", "len"):
        PipelineConfig(mode=mode)
    for kind in ("adwin", "none"):
        PipelineConfig(drift_detector=kind)
        make_detector(kind)  # the same set make_detector accepts


def test_unknown_calibration_rejected():
    with pytest.raises(ValueError, match="calibration='nocalib'"):
        PipelineConfig(calibration="nocalib")


def test_unknown_scope_rejected():
    with pytest.raises(ValueError, match="scope='conv'"):
        PipelineConfig(scope="conv")


def test_unknown_mode_rejected():
    with pytest.raises(ValueError, match="mode='iforest'"):
        PipelineConfig(mode="iforest")


def test_unknown_drift_detector_rejected():
    with pytest.raises(ValueError, match="drift_detector='ddm'"):
        PipelineConfig(drift_detector="ddm")


@pytest.mark.parametrize("kind", ["off", "fallback"])
def test_none_aliases_rejected(kind):
    """"none" is the one no-detector value; other spellings of it are
    rejected by the config and by make_detector alike."""
    with pytest.raises(ValueError, match=f"drift_detector='{kind}'"):
        PipelineConfig(drift_detector=kind)
    with pytest.raises(ValueError, match="unknown drift detector"):
        make_detector(kind)
