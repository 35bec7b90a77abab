"""Property-based tests (hypothesis) over the pure kernel functions —
the shared `CalibrationState` event loop must equal the per-event
oracle for ANY score sequence and any (alpha, window, warmup)
configuration, not just the handpicked fixtures, and a run resumed
from its checkpoint at any split points must equal one run."""

import math
import pickle
import random

import numpy as np
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from log_project_spark import oracle
from log_project_spark.adwin import Adwin
from log_project_spark.operators.aggregate import lower_index, lower_index_col
from log_project_spark.operators.calibrate import CalibrationState


def _run(scores, alpha, window, warmup, no_calib, drift_kind, delta=0.002):
    state = CalibrationState(alpha, window, warmup, no_calib, drift_kind, delta)
    return state.run(list(scores), len(scores))


scores_strategy = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=300,
)


@settings(max_examples=60, deadline=None)
@given(
    scores=scores_strategy,
    alpha=st.floats(min_value=0.001, max_value=0.5),
    window=st.integers(min_value=1, max_value=200),
    warmup=st.integers(min_value=0, max_value=250),
)
def test_conformal_kernel_equals_oracle(scores, alpha, window, warmup):
    thr, anom, drift = _run(scores, alpha, window, warmup, False, "none")
    want = oracle.run_stream(scores, alpha=alpha, window=window, warmup=warmup)
    assert list(thr) == want.thresholds
    assert list(anom) == want.is_anom
    assert not drift.any()


@settings(max_examples=40, deadline=None)
@given(
    scores=scores_strategy,
    alpha=st.floats(min_value=0.001, max_value=0.5),
    warmup=st.integers(min_value=1, max_value=250),
)
def test_fixed_threshold_kernel_equals_oracle(scores, alpha, warmup):
    thr, anom, _ = _run(scores, alpha, 1000, warmup, True, "none")
    want = oracle.run_stream(scores, alpha=alpha, warmup=warmup, no_calib=True)
    for a, b in zip(thr, want.thresholds):
        assert (math.isinf(a) and math.isinf(b)) or a == b
    assert list(anom) == want.is_anom


@settings(max_examples=25, deadline=None)
@given(
    scores=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, allow_infinity=False),
        min_size=50,
        max_size=400,
    ),
    delta=st.floats(min_value=0.0005, max_value=0.05),
)
def test_adwin_kernel_equals_oracle_sequence(scores, delta):
    """The kernel's embedded detector sees the same score sequence as a
    standalone ADWIN (drift bits equal), and resets keep thresholds
    equal to the oracle's."""
    thr, anom, drift = _run(scores, 0.05, 50, 10, False, "adwin", delta)
    want = oracle.run_stream(
        scores, alpha=0.05, window=50, warmup=10, detector=Adwin(delta=delta)
    )
    assert list(drift) == want.is_drift
    assert list(thr) == want.thresholds
    assert list(anom) == want.is_anom


@settings(max_examples=60, deadline=None)
@given(
    scores=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=300,
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=300), max_size=4),
    window=st.integers(min_value=1, max_value=60),
    warmup=st.integers(min_value=0, max_value=120),
    no_calib=st.booleans(),
    drift_kind=st.sampled_from(["none", "adwin"]),
)
def test_resumed_state_equals_one_run_and_oracle(
    scores, cuts, window, warmup, no_calib, drift_kind
):
    """Streaming resumes the state from its STATE_SCHEMA row at every
    micro-batch boundary: runs chunked at any split points, with the
    (arrivals, seen, det) tuple pickled between chunks, must equal one
    uninterrupted run and the oracle."""
    args = (0.05, window, warmup, no_calib, drift_kind, 0.005)
    whole = CalibrationState(*args).run(list(scores), len(scores))

    bounds = sorted({min(c, len(scores)) for c in cuts} | {0, len(scores)})
    parts, row = [], None
    for lo, hi in zip(bounds, bounds[1:]):
        state = CalibrationState(*args)
        if row is not None:
            state.restore(pickle.loads(pickle.dumps(row)))
        parts.append(state.run(scores[lo:hi], hi - lo))
        row = state.checkpoint()
    chunked = [np.concatenate([p[j] for p in parts]) for j in range(3)]
    for a, b in zip(whole, chunked):
        assert list(a) == list(b)

    want = oracle.run_stream(
        scores, alpha=0.05, window=window, warmup=warmup, no_calib=no_calib,
        detector=Adwin(delta=0.005) if drift_kind == "adwin" else None,
    )
    assert list(whole[0]) == want.thresholds
    assert list(whole[1]) == want.is_anom
    assert list(whole[2]) == want.is_drift


@settings(max_examples=60, deadline=None)
@given(
    samples=st.lists(
        st.floats(min_value=-1e9, max_value=1e9, allow_nan=False), min_size=1, max_size=500
    ),
    p=st.floats(min_value=0.0, max_value=100.0),
)
def test_exact_percentile_properties(samples, p):
    v = oracle.exact_percentile(samples, p)
    assert v in samples  # exact pick, never interpolated
    assert min(samples) <= v <= max(samples)


# quantiles at and next to both ends of [0, 1] and between them (p50,
# p95 and p99, and the 1%-FPR TPR threshold among them); n covers
# every sample size up to 300
LOWER_INDEX_QS = [0.0, 1e-12, 0.01, 0.5, 0.93, 0.95, 0.99, 1.0 - 1e-12, 1.0]
LOWER_INDEX_NS = range(1, 301)


def _p_and_alpha(q: float) -> tuple[float, float]:
    """The percentile p = 100q (callers pass p/100.0) and the C6 alpha
    = 1 - q (the freeze passes 1.0 - alpha) for quantile q."""
    return q * 100.0, 1.0 - q


def test_lower_index_picks_equal_oracle():
    """lower_index at p/100.0 is oracle.exact_percentile's pick, and at
    1.0 - alpha oracle.fixed_threshold's, over distinct sorted values
    for every n and q of the grid."""
    rng = random.Random(12)
    for n in LOWER_INDEX_NS:
        ordered = sorted(rng.sample(range(10 * n), n))
        shuffled = rng.sample(ordered, n)
        for q in LOWER_INDEX_QS:
            p, alpha = _p_and_alpha(q)
            assert ordered[lower_index(p / 100.0, n)] == oracle.exact_percentile(shuffled, p)
            assert ordered[lower_index(1.0 - alpha, n)] == oracle.fixed_threshold(shuffled, alpha)


def test_lower_index_col_equals_lower_index(spark):
    """The Column pick, over a long count and an int size, equals the
    Python pick for every n of the grid and every double a caller
    passes for its qs."""
    qs = set(LOWER_INDEX_QS)
    for q in LOWER_INDEX_QS:
        p, alpha = _p_and_alpha(q)
        qs |= {p / 100.0, 1.0 - alpha}
    qs = sorted(qs)
    ns = spark.range(LOWER_INDEX_NS.start, LOWER_INDEX_NS.stop).select(F.col("id").alias("n"))
    rows = ns.select(
        "n",
        *[lower_index_col(q, F.col("n")).alias(f"long{i}") for i, q in enumerate(qs)],
        *[lower_index_col(q, F.col("n").cast("int")).alias(f"int{i}") for i, q in enumerate(qs)],
    ).collect()
    assert len(rows) == len(LOWER_INDEX_NS)
    for r in rows:
        for i, q in enumerate(qs):
            assert r[f"long{i}"] == r[f"int{i}"] == lower_index(q, r["n"]), (q, r["n"])


@settings(max_examples=40, deadline=None)
@given(
    buf=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=300
    ),
    alpha=st.floats(min_value=0.001, max_value=0.999),
)
def test_conformal_threshold_monotone_in_alpha(buf, alpha):
    """Lower alpha (stricter FPR) can only raise the threshold."""
    lo = oracle.conformal_threshold(buf, min(alpha * 2, 0.999))
    hi = oracle.conformal_threshold(buf, alpha)
    assert hi >= lo
    assert hi in buf


@settings(max_examples=30, deadline=None)
@given(
    tokens=st.lists(
        st.text(alphabet="abcdefghij <>x0123456789.\t", min_size=0, max_size=40),
        min_size=1,
        max_size=30,
    )
)
def test_mask_chain_idempotent_and_digit_free(tokens):
    """Masking is idempotent and leaves no raw digits outside
    placeholders."""
    line = " ".join(tokens)
    once = oracle.mask_line(line)
    assert oracle.mask_line(once) == once
    import re

    leftover = re.sub(r"<num>|<ip>|<hex>", "", once)
    assert not re.search(r"\d", leftover)
