"""Mergeable t-digest for quantile thresholds, and categorical PSI.

The reference fits its threshold state on the training distribution only
(``anomaly_detection.py:453-456``: histogram at :347-350, KDE + q=0.99
quantile at :371-373) and applies it to test scores (:458-463). At 10^12 rows
the distribution itself can't be materialized, so the quantile-threshold
callers (``scoring.fit_quantile_threshold(method='tdigest')`` and two corpus
queries) carry it as a **t-digest** (Dunning & Ertl, "Computing extremely
accurate quantiles using t-digests") — an associative, commutative,
bounded-size sketch:

    per-partition build (vectorized numpy over Arrow batches)
      -> pid-ordered merge on the driver
      -> quantile queries.

Pure python/numpy (no external deps); serializes to bytes. Drift
(engine/drift.py) needs no sketch: it counts exactly against the baseline's
percentile edges and shares only ``categorical_psi`` with this module.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class TDigest:
    """Merging t-digest with the k1 scale-function size bound.

    Centroids kept sorted by mean; ``compress`` greedily merges neighbors
    while the merged weight stays within the local capacity
    4*n*q(1-q)/compression — small near the tails (accurate extreme
    quantiles), large in the middle.
    """

    __slots__ = ("compression", "means", "weights", "_buf")

    def __init__(self, compression: int = 200):
        self.compression = compression
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self._buf: list[np.ndarray] = []

    # -- building ------------------------------------------------------------
    def add(self, values: np.ndarray) -> "TDigest":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v):
            self._buf.append(v)
        if sum(len(b) for b in self._buf) > 32 * self.compression:
            self.compress()
        return self

    def merge(self, other: "TDigest") -> "TDigest":
        self.compress()
        other.compress()
        if len(other.means):
            self._buf = []
            means = np.concatenate([self.means, other.means])
            weights = np.concatenate([self.weights, other.weights])
            order = np.argsort(means, kind="stable")
            self.means, self.weights = means[order], weights[order]
            self._merge_sorted()
        return self

    def compress(self) -> None:
        if self._buf:
            v = np.concatenate(self._buf)
            self._buf = []
            means = np.concatenate([self.means, v])
            weights = np.concatenate([self.weights, np.ones(len(v))])
            order = np.argsort(means, kind="stable")
            self.means, self.weights = means[order], weights[order]
        self._merge_sorted()

    def _merge_sorted(self) -> None:
        n = float(self.weights.sum())
        if n == 0 or len(self.means) <= 1:
            return
        out_m: list[float] = []
        out_w: list[float] = []
        cum = 0.0
        cur_m, cur_w = self.means[0], self.weights[0]
        for m, w in zip(self.means[1:], self.weights[1:]):
            q = (cum + cur_w / 2.0) / n
            cap = max(1.0, 4.0 * n * q * (1.0 - q) / self.compression)
            if cur_w + w <= cap:
                cur_m = (cur_m * cur_w + m * w) / (cur_w + w)
                cur_w += w
            else:
                out_m.append(cur_m)
                out_w.append(cur_w)
                cum += cur_w
                cur_m, cur_w = m, w
        out_m.append(cur_m)
        out_w.append(cur_w)
        self.means = np.asarray(out_m)
        self.weights = np.asarray(out_w)

    # -- queries ---------------------------------------------------------------
    @property
    def total_weight(self) -> float:
        return float(self.weights.sum()) + sum(len(b) for b in self._buf)

    def quantile(self, q: float) -> float:
        self.compress()
        if not len(self.means):
            return float("nan")
        if len(self.means) == 1:
            return float(self.means[0])
        n = self.weights.sum()
        target = q * n
        cum = np.cumsum(self.weights) - self.weights / 2.0
        if target <= cum[0]:
            return float(self.means[0])
        if target >= cum[-1]:
            return float(self.means[-1])
        i = np.searchsorted(cum, target) - 1
        t = (target - cum[i]) / (cum[i + 1] - cum[i])
        return float(self.means[i] + t * (self.means[i + 1] - self.means[i]))

    # -- serialization -----------------------------------------------------------
    def to_bytes(self) -> bytes:
        self.compress()
        head = struct.pack("<Iq", self.compression, len(self.means))
        return head + self.means.tobytes() + self.weights.tobytes()

    @classmethod
    def from_bytes(cls, b: bytes) -> "TDigest":
        compression, k = struct.unpack("<Iq", b[:12])
        d = cls(compression)
        d.means = np.frombuffer(b[12 : 12 + 8 * k]).copy()
        d.weights = np.frombuffer(b[12 + 8 * k : 12 + 16 * k]).copy()
        return d


# ---------------------------------------------------------------------------
# distributed build: per-partition digests via Arrow batches, merged centrally
# ---------------------------------------------------------------------------

def build_digest(df: DataFrame, column: str, compression: int = 200) -> TDigest:
    """One column's digest: ``build_digests`` for a single column."""
    return build_digests(df, [column], compression)[column]


def build_digests(df: DataFrame, columns: list[str], compression: int = 200) -> dict[str, TDigest]:
    """Digests for several columns in ONE scan (column-pruned)."""
    sel = df.select(*[F.col(c).cast("double").alias(c) for c in columns])

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        ds = {c: TDigest(compression) for c in columns}
        for pdf in batches:
            for c in columns:
                ds[c].add(pdf[c].to_numpy())
        yield pd.DataFrame(
            {
                "pid": [pid] * len(columns),
                "column_name": columns,
                "digest": [ds[c].to_bytes() for c in columns],
            }
        )

    parts = sel.mapInPandas(
        per_partition, schema="pid long, column_name string, digest binary"
    ).collect()
    out = {c: TDigest(compression) for c in columns}
    # pid-ordered merge: digest merging is order-sensitive at the float level,
    # and collect() row order is not guaranteed across reruns
    for r in sorted(parts, key=lambda r: r["pid"]):
        out[r["column_name"]].merge(TDigest.from_bytes(r["digest"]))
    return out


# ---------------------------------------------------------------------------
# drift statistic on counts
# ---------------------------------------------------------------------------

def categorical_psi(
    baseline_counts: dict[str, int], current_counts: dict[str, int], eps: float = 1e-6
) -> float:
    """PSI over a categorical domain (e.g. codec mix drift)."""
    keys = sorted(set(baseline_counts) | set(current_counts))
    p = np.array([baseline_counts.get(k, 0) for k in keys], dtype=np.float64)
    q = np.array([current_counts.get(k, 0) for k in keys], dtype=np.float64)
    p = np.clip(p / max(p.sum(), 1.0), eps, None)
    q = np.clip(q / max(q.sum(), 1.0), eps, None)
    p, q = p / p.sum(), q / q.sum()
    return float(np.sum((q - p) * np.log(q / p)))
