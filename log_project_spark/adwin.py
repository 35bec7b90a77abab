"""ADWIN adaptive-windowing drift detector.

Own implementation of the ADWIN2 algorithm from the public paper
A. Bifet & R. Gavalda, "Learning from Time-Changing Data with Adaptive
Windowing", SDM 2007 (exponential-histogram buckets, harmonic-mean cut
test with variance correction). The reference pipeline uses river's
ADWIN when importable and a never-fires fallback otherwise
(/root/reference/src/stream.py:26-45); river is not a dependency here,
so this is the "ADWIN-style drift tracking" required by the north
rule. Tests that assert drift-count equality with river are skipped
when river is absent.

API mirrors what stream.py consumes: `update(x)` then read
`drift_detected` (/root/reference/src/stream.py:365-366).
"""

from __future__ import annotations


class Adwin:
    """Exponential-histogram ADWIN.

    Buckets are kept in rows; row ``l`` holds buckets summarizing
    ``2**l`` elements each (total and incremental variance), at most
    ``max_buckets`` per row before the two oldest merge upward.
    Every ``clock`` insertions the window is checked for a cut: for
    each split into old|new halves, drift fires when
    ``|mean_old - mean_new| > eps_cut`` with the Bernstein-style bound
    ``eps_cut = sqrt(2/m * v * ln(2/d')) + (2/(3m)) * ln(2/d')``,
    ``m`` the harmonic mean of the half sizes, ``v`` the window
    variance, ``d' = delta / ln(n)``.
    """

    def __init__(
        self,
        delta: float = 0.002,
        clock: int = 32,
        max_buckets: int = 5,
        min_window_length: int = 5,
        grace_period: int = 10,
    ):
        if not (0.0 < delta < 1.0):
            raise ValueError("delta must be in (0,1)")
        self.delta = float(delta)
        self.clock = int(clock)
        self.max_buckets = int(max_buckets)
        self.min_window_length = int(min_window_length)
        self.grace_period = int(grace_period)
        self.drift_detected = False
        self._reset_state()

    def _reset_state(self) -> None:
        # rows[l] = list of (total, variance_aux) for buckets of 2**l items,
        # oldest first within a row; row 0 is the newest level.
        self._rows: list[list[tuple[float, float]]] = [[]]
        self.width = 0
        self.total = 0.0
        self._variance_aux = 0.0  # sum of squared deviations (n * variance)
        self._ticks = 0

    # -- exponential histogram maintenance ---------------------------------

    def _insert(self, x: float) -> None:
        if self.width > 0:
            mean = self.total / self.width
            self._variance_aux += (self.width / (self.width + 1.0)) * (x - mean) * (x - mean)
        self.width += 1
        self.total += x
        self._rows[0].append((x, 0.0))
        level = 0
        while len(self._rows[level]) > self.max_buckets:
            if level + 1 == len(self._rows):
                self._rows.append([])
            (t1, v1), (t2, v2) = self._rows[level][0], self._rows[level][1]
            n_half = float(1 << level)
            u1, u2 = t1 / n_half, t2 / n_half
            merged_var = v1 + v2 + (n_half * n_half / (2.0 * n_half)) * (u1 - u2) * (u1 - u2)
            self._rows[level + 1].append((t1 + t2, merged_var))
            del self._rows[level][:2]
            level += 1

    def _drop_oldest_bucket(self) -> None:
        level = len(self._rows) - 1
        while level >= 0 and not self._rows[level]:
            level -= 1
        if level < 0:
            return
        t, v = self._rows[level].pop(0)
        n = float(1 << level)
        mean_bucket = t / n
        if self.width > n:
            mean_rest = (self.total - t) / (self.width - n)
            self._variance_aux -= v + (n * (self.width - n) / self.width) * (
                mean_bucket - mean_rest
            ) * (mean_bucket - mean_rest)
            self._variance_aux = max(0.0, self._variance_aux)
        else:
            self._variance_aux = 0.0
        self.width -= int(n)
        self.total -= t
        while len(self._rows) > 1 and not self._rows[-1]:
            self._rows.pop()

    # -- cut test -----------------------------------------------------------

    def _check_cut(self) -> bool:
        import math

        if self.width < max(2 * self.min_window_length, self.grace_period):
            return False
        v = self._variance_aux / self.width
        delta_prime = self.delta / max(math.log(self.width), 1.0)
        log_term = math.log(2.0 / delta_prime)
        shrunk = False
        changed = True
        while changed:
            changed = False
            n0, s0 = 0.0, 0.0
            # walk buckets oldest -> newest (highest row first, FIFO in row)
            for level in range(len(self._rows) - 1, -1, -1):
                size = float(1 << level)
                for t, _ in list(self._rows[level]):
                    n0 += size
                    s0 += t
                    n1 = self.width - n0
                    if n0 < self.min_window_length or n1 < self.min_window_length:
                        continue
                    u0, u1 = s0 / n0, (self.total - s0) / n1
                    m = 1.0 / (1.0 / n0 + 1.0 / n1)
                    eps = math.sqrt((2.0 / m) * v * log_term) + (2.0 / (3.0 * m)) * log_term
                    if abs(u0 - u1) > eps:
                        self._drop_oldest_bucket()
                        shrunk = True
                        changed = self.width > self.min_window_length
                        break
                if changed:
                    break
        return shrunk

    # -- public API ----------------------------------------------------------

    def update(self, x: float) -> bool:
        """Add one observation; returns (and latches) drift_detected."""
        self._insert(float(x))
        self._ticks += 1
        self.drift_detected = False
        if self._ticks % self.clock == 0:
            self.drift_detected = self._check_cut()
        return self.drift_detected

    @property
    def mean(self) -> float:
        return self.total / self.width if self.width else 0.0

    @property
    def variance(self) -> float:
        return self._variance_aux / self.width if self.width else 0.0


class NoDrift:
    """Never-fires detector (parity with stream.py:26-37 fallback)."""

    drift_detected = False

    def update(self, _x: float) -> bool:
        return False


# every kind make_detector accepts; "none" never fires
DETECTOR_KINDS = ("adwin", "none")


def make_detector(kind: str, delta: float = 0.002):
    if kind == "adwin":
        return Adwin(delta=delta)
    if kind in DETECTOR_KINDS:
        return NoDrift()
    raise ValueError(f"unknown drift detector: {kind}")
