"""t-digest quantile sketch (Dunning & Ertl's merging digest).

The north_star names this sketch for distribution-drift detection
("t-digest quantile sketches compared across snapshots"); Spark's
built-in ``percentile_approx`` is a different sketch (KLL-style).
This is a from-scratch implementation of the public algorithm
(Dunning & Ertl, "Computing Extremely Accurate Quantiles Using
t-Digests", arXiv:1902.04023):

- centroids (mean, weight) kept sorted by mean;
- the merge pass bounds each centroid's weight by the k0-style size
  function ``4·W·q(1-q)/δ`` — small clusters at the tails, so tail
  quantiles stay extremely accurate;
- digests merge associatively (partition partials → tree merge),
  which is what makes the sketch distributable: each Spark partition
  builds a partial, the merge levels combine them, and only
  centroid arrays (O(δ)) ever move.

EXACT REGIME (what makes the drift contract query oracle-able): the
digest is exact — every distinct value its own centroid — precisely
when no ADJACENT pair of distinct values ever merges, i.e. every
adjacent pair's combined weight exceeds the local size bound
``4·W·q(1-q)/δ`` (and 1). Low cardinality alone is NOT sufficient:
two adjacent RARE values between heavy masses sit under the bound
and merge into a non-data mean — pinned in
``test_tdigest.test_adjacent_rare_values_merge``. A simple
sufficient condition: every distinct value carries weight > W/δ
(the bound's maximum is 4·W·(1/4)/δ = W/δ, so any adjacent pair
sums past it). The ``tdigest_drift`` contract data — 31 near-
uniform levels of ~3%·W each at δ=200 (W/δ = 0.5%·W) — satisfies
it with a 6× margin.
"""

from __future__ import annotations

import numpy as np


class TDigest:
    """Immutable-ish t-digest over float64 values."""

    __slots__ = ("compression", "means", "weights", "min", "max")

    def __init__(self, compression: int = 100,
                 means: np.ndarray | None = None,
                 weights: np.ndarray | None = None,
                 vmin: float = np.inf, vmax: float = -np.inf) -> None:
        self.compression = int(compression)
        self.means = (np.asarray(means, dtype=np.float64)
                      if means is not None else np.empty(0))
        self.weights = (np.asarray(weights, dtype=np.float64)
                        if weights is not None else np.empty(0))
        self.min = float(vmin)
        self.max = float(vmax)

    # -- construction -------------------------------------------------------

    @classmethod
    def from_values(cls, values, compression: int = 100) -> "TDigest":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return cls(compression)
        v = np.sort(v)
        # group exactly-equal values first (free accuracy, smaller input)
        uniq, counts = np.unique(v, return_counts=True)
        m, w = _compress(uniq, counts.astype(np.float64), compression)
        return cls(compression, m, w, float(v[0]), float(v[-1]))

    def merge(self, other: "TDigest") -> "TDigest":
        if other.total == 0:
            return self
        if self.total == 0:
            return TDigest(self.compression, other.means, other.weights,
                           other.min, other.max)
        m = np.concatenate([self.means, other.means])
        w = np.concatenate([self.weights, other.weights])
        order = np.argsort(m, kind="stable")
        mm, ww = _compress(m[order], w[order], self.compression)
        return TDigest(self.compression, mm, ww,
                       min(self.min, other.min), max(self.max, other.max))

    # -- queries ------------------------------------------------------------

    @property
    def total(self) -> float:
        return float(self.weights.sum()) if self.weights.size else 0.0

    def quantile(self, q: float, method: str = "interp") -> float:
        """Inverse CDF. ``method="interp"`` interpolates between
        centroid means (standard t-digest estimate); ``"nearest"``
        returns the smallest centroid mean whose cumulative weight
        reaches q·W — in the exact (singleton-centroid) regime that
        is precisely the discrete lower quantile, replayable by SQL
        ``quantile_disc``-style expressions."""
        if not 0.0 <= q <= 1.0:
            raise ValueError("q out of [0,1]")
        n = self.means.size
        if n == 0:
            return float("nan")
        if n == 1:
            return float(self.means[0])
        W = self.total
        cum = np.cumsum(self.weights)
        if method == "nearest":
            target = q * W
            idx = int(np.searchsorted(cum, target, side="left"))
            return float(self.means[min(idx, n - 1)])
        if method != "interp":
            raise ValueError(f"unknown method {method!r}")
        target = q * W
        # centroid "centers" at cumulative weight minus half own weight
        centers = cum - self.weights / 2.0
        if target <= centers[0]:
            # interpolate from the true min
            span = centers[0]
            frac = 0.0 if span == 0 else target / span
            return float(self.min + frac * (self.means[0] - self.min))
        if target >= centers[-1]:
            span = W - centers[-1]
            frac = 0.0 if span == 0 else (target - centers[-1]) / span
            return float(self.means[-1]
                         + frac * (self.max - self.means[-1]))
        idx = int(np.searchsorted(centers, target, side="right")) - 1
        span = centers[idx + 1] - centers[idx]
        frac = 0.0 if span == 0 else (target - centers[idx]) / span
        return float(self.means[idx]
                     + frac * (self.means[idx + 1] - self.means[idx]))

    def cdf(self, x: float) -> float:
        n = self.means.size
        if n == 0:
            return float("nan")
        if x < self.min:
            return 0.0
        if x >= self.max:
            return 1.0
        W = self.total
        cum = np.cumsum(self.weights)
        centers = cum - self.weights / 2.0
        idx = int(np.searchsorted(self.means, x, side="right"))
        if idx == 0:
            span = self.means[0] - self.min
            frac = 1.0 if span == 0 else (x - self.min) / span
            return float(frac * centers[0] / W)
        if idx >= n:
            span = self.max - self.means[-1]
            frac = 1.0 if span == 0 else (x - self.means[-1]) / span
            return float((centers[-1] + frac * (W - centers[-1])) / W)
        m0, m1 = self.means[idx - 1], self.means[idx]
        span = m1 - m0
        frac = 0.0 if span == 0 else (x - m0) / span
        return float((centers[idx - 1]
                      + frac * (centers[idx] - centers[idx - 1])) / W)

    # -- (de)serialization for DataFrame transport --------------------------

    def to_row(self) -> dict:
        return {
            "means": [float(v) for v in self.means],
            "weights": [float(v) for v in self.weights],
            "vmin": self.min if self.means.size else None,
            "vmax": self.max if self.means.size else None,
        }

    @classmethod
    def from_row(cls, row, compression: int = 100) -> "TDigest":
        means = row["means"]
        if means is None or len(means) == 0:
            return cls(compression)
        return cls(compression, np.asarray(means),
                   np.asarray(row["weights"]),
                   row["vmin"], row["vmax"])


def _compress(means: np.ndarray, weights: np.ndarray,
              compression: int) -> tuple[np.ndarray, np.ndarray]:
    """One merge pass over centroids sorted by mean; k0-style size
    bound 4·W·q(1-q)/δ (q = projected centroid center quantile)."""
    W = float(weights.sum())
    if means.size <= 1 or W == 0:
        return means.copy(), weights.copy()
    out_m: list[float] = []
    out_w: list[float] = []
    cur_m = float(means[0])
    cur_w = float(weights[0])
    cum = 0.0  # weight fully to the left of the current cluster
    limit_scale = 4.0 / compression
    for i in range(1, means.size):
        m = float(means[i])
        w = float(weights[i])
        q = (cum + (cur_w + w) / 2.0) / W
        limit = W * limit_scale * q * (1.0 - q)
        # equal means always merge: lossless, and it guarantees the
        # exact (singleton-centroid) regime for low-cardinality data
        if m == cur_m or cur_w + w <= max(limit, 1.0):
            cur_m += (m - cur_m) * (w / (cur_w + w))
            cur_w += w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            cum += cur_w
            cur_m, cur_w = m, w
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.asarray(out_m), np.asarray(out_w)
